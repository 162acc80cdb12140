"""DuckDB oracle SQL, one row per gate: ``ORACLES`` maps a gate name to
its SQL and is the gate registry — ``__spark_entry__.queries()`` holds
exactly the functions named here.

Each oracle mirrors the Spark query's math exactly (same fold orders,
same integer-cents aggregation, same tie-breakers) so the driver's
value-hash comparison matches bit-for-bit.  That includes the ANN gates
(`ann_*`): each oracle replays the index's deterministic seeding,
assignment and probe rules, so the approximate result is itself exact.
"""

from __future__ import annotations

# normalized word list (mirror of operators.dedup.normalized_words);
# NOTE the 'g' flag — DuckDB regexp_replace is first-match by default
_WORDS = (
    "list_filter(string_split_regex("
    "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'), w -> w <> '')"
)

# distinct word-3-gram shingles (mirror of operators.dedup.word_ngrams)
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(words) - 1, 1)), "
    "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))"
)

_JACCARD_BASE = f"""
with sh0 as (
    select doc_id as id, {_WORDS} as words from documents
), sh as (
    select id, case when len(words) >= 3 then {_SHINGLES} else [] end as shingles
    from sh0
), shn as (
    select id, shingles, len(shingles) as n_sh from sh where len(shingles) > 0
), f as (
    select id, unnest(shingles) as s from shn
), shared as (
    select a.id as id_a, b.id as id_b, count(*) as shared
    from f a join f b on a.s = b.s and a.id < b.id
    group by 1, 2
)
select s.id_a, s.id_b,
       s.shared / (na.n_sh + nb.n_sh - s.shared) as jaccard
from shared s
join shn na on na.id = s.id_a
join shn nb on nb.id = s.id_b
where s.shared / (na.n_sh + nb.n_sh - s.shared) >= {{thr}}
"""


def _hex2int(h: str, digits: int = 8) -> str:
    """First `digits` hex chars of expr `h` → integer, arithmetic only
    (mirror of operators.dedup._hex_to_int)."""
    out = "0"
    for i in range(digits):
        ch = f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        out = f"(({out}) * 16 + {ch})"
    return out


def _simhash_sql(bits: int = 32) -> str:
    v = _hex2int("md5(word)")
    sums = ",\n           ".join(
        f"sum(case when (v // {1 << b}) % 2 = 1 then 1 else -1 end) as s{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"(case when s{b} > 0 then {1 << b} else 0 end)" for b in range(bits))
    return f"""
with w as (
    select doc_id, unnest({_WORDS}) as word
    from documents where text is not null
), v as (
    select doc_id, cast({v} as bigint) as v from w
), s as (
    select doc_id,
           {sums}
    from v group by doc_id
), f as (
    select doc_id, cast({fp} as bigint) as simhash from s
)
select d.doc_id, cast(coalesce(f.simhash, 0) as bigint) as simhash
from documents d left join f using (doc_id)
where d.text is not null
"""


_QUALITY_SQL = f"""
with w as (
    select doc_id, text, {_WORDS} as words from documents
), m as (
    select doc_id,
           cast(length(text) as bigint) as n_chars,
           cast(len(words) as bigint) as n_words,
           cast(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) as bigint) as n_punct,
           cast(len(list_filter(words, x -> list_contains(['the','and','of','to','in','is','that','for','with','was'], x))) as bigint) as n_stop,
           cast(coalesce(list_sum(list_transform(words, x -> length(x))), 0) as bigint) as sum_wlen
    from w
)
select doc_id, n_chars, n_words,
       case when n_words > 0 then sum_wlen / n_words else 0.0 end as mean_word_len,
       case when n_chars > 0 then n_punct / n_chars else 0.0 end as punct_ratio,
       case when n_words > 0 then n_stop / n_words else 0.0 end as stopword_ratio,
       (((case when n_words >= 10 and n_words <= 100000 then cast(0.4 as double) else cast(0.0 as double) end)
         + (case when (case when n_words > 0 then sum_wlen / n_words else 0.0 end) >= 3
                  and (case when n_words > 0 then sum_wlen / n_words else 0.0 end) <= 10
                 then cast(0.2 as double) else cast(0.0 as double) end))
         + (case when (case when n_words > 0 then n_stop / n_words else 0.0 end) >= 0.05
                 then cast(0.2 as double) else cast(0.0 as double) end))
         + (case when (case when n_chars > 0 then n_punct / n_chars else 0.0 end) <= 0.2
                 then cast(0.2 as double) else cast(0.0 as double) end) as quality_score
from m
"""

_LANGS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"],
    "es": ["el", "la", "los", "de", "y", "es", "en", "un", "una", "por"],
}


def _language_sql() -> str:
    hit_cols = ",\n           ".join(
        "len(list_filter(words, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in lst)
        + f"], x))) as h_{lang}"
        for lang, lst in _LANGS.items()
    )
    # fold in dict order with strict > (mirror of textstats.detect_language)
    folds = []
    prev_h, prev_l = "h_en", "'en'"
    for lang in list(_LANGS)[1:]:
        folds.append(
            f"case when h_{lang} > ({prev_h}) then h_{lang} else ({prev_h}) end"
        )
        prev_l = f"case when h_{lang} > ({prev_h}) then '{lang}' else ({prev_l}) end"
        prev_h = folds[-1]
    return f"""
with w as (
    select doc_id, {_WORDS} as words from documents
), h as (
    select doc_id,
           {hit_cols}
    from w
)
select doc_id,
       case when ({prev_h}) > 0 then ({prev_l}) else 'und' end as detected_lang,
       cast(({prev_h}) as bigint) as stopword_hits
from h
"""


_COSINE_CTE = """
with v as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
    -- zero-norm vectors carry no direction: excluded on both sides of
    -- every cosine pairing, matching the operators' norm > 0 filters
    -- (gate-fuzz finding; DuckDB's NULL division used to hide them as
    -- never-matching rows, Spark ANSI throws)
    where list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
      -- finite contract (r6 NaN/Inf fuzz): NaN orders above +inf on
      -- both engines, so one upper bound drops NaN and Inf vectors
      and list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) < 'infinity'::double
), p as (
    select a.vec_id as id_a, b.vec_id as id_b,
           list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])))
                * sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])))) as cosine
    from v a join v b on {join_cond}
)
"""

ORACLES: dict[str, str] = {}

ORACLES["q1_pricing_summary"] = """
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty,
       cast(sum(cast(round(l_extendedprice * 10000) as bigint)) / 10000.0 as double) as sum_base_price,
       cast(sum(cast(round((l_extendedprice * (1 - l_discount)) * 10000) as bigint)) / 10000.0 as double) as sum_disc_price,
       cast(count(*) as bigint) as count_order,
       cast(sum(cast(round(l_discount * 10000) as bigint)) as bigint) as sum_disc_e4
from lineitem
where l_shipdate <= timestamp '1998-09-02 00:00:00'
group by l_returnflag, l_linestatus
"""

ORACLES["q3_shipping_priority"] = """
select o.o_orderkey as order_key,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) / 10000.0 as double) as revenue,
       cast(o.o_orderdate as varchar) as order_date,
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
"""

ORACLES["q5_local_supplier_volume"] = """
select n.n_name as nation,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) / 10000.0 as double) as revenue
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
"""

ORACLES["q4_order_priority"] = """
select o_orderpriority as priority, cast(count(*) as bigint) as n_orders
from orders o
where o.o_orderdate >= timestamp '1996-01-01 00:00:00'
  and o.o_orderdate < timestamp '1996-07-01 00:00:00'
  and exists (select 1 from lineitem l
              where l.l_orderkey = o.o_orderkey
                and l.l_shipdate > o.o_orderdate)
group by o_orderpriority
"""

ORACLES["q13_customer_distribution"] = """
select c_count, cast(count(*) as bigint) as custdist
from (
    select c.c_custkey, cast(count(o.o_orderkey) as bigint) as c_count
    from customer c
    left join orders o on c.c_custkey = o.o_custkey
         and o.o_orderpriority <> '1-URGENT'
    group by c.c_custkey
) group by c_count
"""

ORACLES["q17_small_quantity_revenue"] = """
select cast(count(*) as bigint) as n_small,
       cast(sum(cast(round(l.l_extendedprice * 10000) as bigint)) / 10000.0 as double) as sum_price
from lineitem l join part p on p.p_partkey = l.l_partkey
where p.p_size <= 5
  and l.l_quantity < (select 0.2 * avg(l2.l_quantity)
                      from lineitem l2
                      where l2.l_partkey = l.l_partkey)
"""

ORACLES["q18_large_orders"] = """
select o.o_orderkey as order_key,
       cast(sum(cast(l.l_quantity as bigint)) as bigint) as total_qty
from orders o join lineitem l on o.o_orderkey = l.l_orderkey
where o.o_orderkey in (
    select l_orderkey from lineitem
    group by l_orderkey
    having sum(cast(l_quantity as bigint)) > 250)
group by o.o_orderkey
"""

ORACLES["customers_without_orders"] = """
select c.c_custkey as customer_key, c.c_mktsegment as segment
from customer c
where not exists (select 1 from orders o where o.o_custkey = c.c_custkey
                    and o.o_orderstatus = 'P')
"""

ORACLES["q14_promo_revenue_ratio"] = """
select cast(sum(case when p.p_type like 'a%' then
                cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)
                else 0 end) as bigint) as promo_e4,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) as bigint) as total_e4
from lineitem l join part p on l.l_partkey = p.p_partkey
where l.l_shipdate >= timestamp '1997-01-01 00:00:00'
  and l.l_shipdate < timestamp '1997-04-01 00:00:00'
"""

ORACLES["q19_or_predicates"] = """
select cast(count(*) as bigint) as n,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) / 10000.0 as double) as revenue
from lineitem l join part p on p.p_partkey = l.l_partkey
where (p.p_brand = 'Brand#12' and p.p_size between 1 and 15
       and l.l_quantity >= 1 and l.l_quantity <= 30)
   or (p.p_brand = 'Brand#23' and p.p_size between 1 and 25
       and l.l_quantity >= 10 and l.l_quantity <= 40)
   or (p.p_brand = 'Brand#34' and p.p_size between 1 and 35
       and l.l_quantity >= 20 and l.l_quantity <= 50)
"""

ORACLES["q22_global_avg_filter"] = """
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
"""

ORACLES["recursive_month_revenue"] = """
with recursive months(m) as (
    select timestamp '1996-01-01 00:00:00'
    union all
    select m + interval 1 month from months
    where m < timestamp '1997-12-01 00:00:00'
)
select cast(m.m as varchar) as month_start,
       cast(coalesce(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)), 0) as bigint) as revenue_e4,
       cast(count(l.l_orderkey) as bigint) as n_lines
from months m
left join lineitem l
  on l.l_shipdate >= m.m and l.l_shipdate < m.m + interval 1 month
group by m.m
"""

ORACLES["lateral_top3_orders_per_segment"] = """
select s.segment, t.order_key,
       cast(round(t.o_totalprice * 100) as bigint) as price_e2
from (select distinct c_mktsegment as segment from customer) s,
lateral (select o.o_orderkey as order_key, o.o_totalprice
         from orders o join customer c on o.o_custkey = c.c_custkey
         where c.c_mktsegment = s.segment
         order by o.o_totalprice desc, o.o_orderkey
         limit 3) t
"""

ORACLES["map_struct_status_counts"] = """
with counts as (
    select o_orderpriority as priority, o_orderstatus as status,
           cast(count(*) as bigint) as cnt
    from orders group by 1, 2
), agg as (
    select priority,
           cast(count(*) as bigint) as n_statuses,
           cast(coalesce(sum(cnt) filter (status = 'O'), 0) as bigint) as n_open
    from counts group by priority
)
select c.priority, c.status, c.cnt as n, a.n_statuses, a.n_open
from counts c join agg a on a.priority = c.priority
"""

ORACLES["q2_min_price_supplier"] = """
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
"""

ORACLES["q6_forecast_revenue"] = """
select cast(sum(cast(round((l_extendedprice * l_discount) * 10000) as bigint)) as bigint) as revenue_e4,
       cast(count(*) as bigint) as n_lines
from lineitem
where l_shipdate >= timestamp '1997-01-01 00:00:00'
  and l_shipdate < timestamp '1998-01-01 00:00:00'
  and l_discount >= cast(0.05 as double) and l_discount <= cast(0.07 as double)
  and l_quantity < 24
"""

ORACLES["q7_volume_shipping"] = """
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
"""

ORACLES["q8_market_share"] = """
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
"""

ORACLES["q9_product_profit"] = """
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
"""

ORACLES["q10_returned_items"] = """
select c.c_custkey as customer_key, c.c_name as customer,
       n.n_name as nation,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) / 10000.0 as double) as revenue,
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
"""

ORACLES["q11_important_parts"] = """
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
            group by l2.l_partkey) t)
"""

ORACLES["q12_late_priority_lines"] = """
select l.l_linestatus as linestatus,
       cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
                     then 1 else 0 end) as bigint) as high_line_count,
       cast(sum(case when o.o_orderpriority not in ('1-URGENT', '2-HIGH')
                     then 1 else 0 end) as bigint) as low_line_count
from orders o join lineitem l on o.o_orderkey = l.l_orderkey
where l.l_shipdate > o.o_orderdate + interval 60 day
  and l.l_shipdate >= timestamp '1997-01-01 00:00:00'
  and l.l_shipdate < timestamp '1998-01-01 00:00:00'
group by l.l_linestatus
"""

ORACLES["q15_top_supplier"] = """
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
"""

ORACLES["q16_supplier_count"] = """
select p.p_brand as brand, p.p_type as type, p.p_size as size,
       cast(count(distinct l.l_suppkey) as bigint) as supplier_cnt
from lineitem l join part p on p.p_partkey = l.l_partkey
where p.p_brand <> 'Brand#1'
  and p.p_size in (1, 5, 10, 15, 20)
  and l.l_suppkey not in (select s_suppkey from supplier
                          where s_acctbal < 1000)
group by p.p_brand, p.p_type, p.p_size
"""

ORACLES["q20_part_share_suppliers"] = """
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
"""

ORACLES["q21_waiting_suppliers"] = """
select s.s_name as supplier, cast(count(*) as bigint) as numwait
from supplier s
join lineitem l1 on l1.l_suppkey = s.s_suppkey
join orders o on o.o_orderkey = l1.l_orderkey
where o.o_orderstatus = 'F'
  and l1.l_shipdate > o.o_orderdate + interval 30 day
  and exists (select 1 from lineitem l2
              where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey <> l1.l_suppkey)
  and not exists (select 1 from lineitem l3
                  where l3.l_orderkey = l1.l_orderkey
                    and l3.l_suppkey <> l1.l_suppkey
                    and l3.l_shipdate > l1.l_shipdate)
group by s.s_name
"""

ORACLES["engine_insert_overwrite"] = """
select cast(cast(ts as date) as varchar) as day,
       event_type, cast(count(*) as bigint) as n
from events
group by 1, 2
"""

ORACLES["engine_python_model"] = """
select o_custkey as customer_key,
       cast(count(*) as bigint) as n_orders,
       cast(sum(cast(round(o_totalprice * 100) as bigint)) / 100.0 as double) as total_spend
from orders
group by o_custkey
having count(*) >= 10
"""

ORACLES["dedup_embedding_docs"] = (
    _COSINE_CTE.format(join_cond="a.vec_id < b.vec_id")
    + """
select e.vec_id, e.label from embeddings e
where e.vec_id not in (select id_b from p where cosine >= 0.45)
"""
)

ORACLES["rollup_quantity"] = """
select coalesce(l_returnflag, 'ALL') as returnflag,
       coalesce(l_linestatus, 'ALL') as linestatus,
       cast(grouping(l_returnflag) as bigint) as g_flag,
       cast(grouping(l_linestatus) as bigint) as g_status,
       cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty
from lineitem
group by rollup(l_returnflag, l_linestatus)
having count(*) > 0
"""
# ^ having-guard: on EMPTY input the SQL standard (and DuckDB) emit the
#   () grand-total row while Spark emits no rows — the guard removes
#   only that empty-input row (every real group has count >= 1).
#   Gate-fuzz finding.  grouping-sets oracles without a () set are
#   unaffected.

ORACLES["asof_join_events_orders"] = """
with r as (
    select o_custkey as user_id, o_orderdate as ots,
           max(o_orderkey) as last_order_key
    from orders group by 1, 2
),
-- matched separately then re-joined: DuckDB's ASOF join MATCHES a
-- NULL-ts probe (NULL sorts high) where the operator's ts >= ots
-- predicate correctly yields no match (gate-fuzz finding)
m as (
    select e.event_id, r.last_order_key
    from events e
    asof join r on e.user_id = r.user_id and e.ts >= r.ots
    where e.ts is not null
)
select e.event_id, e.user_id, cast(epoch_us(e.ts) as bigint) as ts_us,
       m.last_order_key
from events e
left join m on m.event_id = e.event_id
"""

ORACLES["multi_granularity_rollup"] = """
with base as (
    select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour_b,
           strftime(date_trunc('day', ts), '%Y-%m-%d') as day_b,
           value
    from events
)
select coalesce(hour_b, '') as hour_bucket,
       coalesce(day_b, '') as day_bucket,
       cast(grouping(hour_b) as bigint) as g_hour,
       cast(grouping(day_b) as bigint) as g_day,
       cast(count(*) as bigint) as n,
       cast(sum(cast(round(value * 10000) as bigint)) / 10000.0 as double) as sum_value
from base
group by grouping sets ((hour_b), (day_b))
"""

ORACLES["simhash_pairs_docs"] = f"""
with f as (select * from ({_simhash_sql(32)}) tf)
select a.doc_id as id_a, b.doc_id as id_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
from f a join f b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= 4
"""

def _kmv_sql(k: int = 64) -> str:
    h15 = _hex2int("substr(md5(cast(user_id as varchar)), 1, 15)", digits=15)
    return f"""
with hashed as (
    select distinct event_type,
           (cast({h15} as double) + 1.0) / 1152921504606846976.0 as h
    from events
    -- NULL user_id hashes to NULL and must not count as a sketch
    -- entry (the operator has no row to hash; a group with only NULL
    -- values is absent on both sides) — gate-fuzz finding
    where user_id is not null
), topk as (
    select event_type, h,
           row_number() over (partition by event_type order by h asc) as rk
    from hashed
    qualify rk <= {k}
), sk as (
    select event_type, max(h) as rk_max, cast(count(*) as bigint) as n_hashes
    from topk group by event_type
), ex as (
    select event_type, cast(count(distinct user_id) as bigint) as n_exact
    from events group by event_type
)
select s.event_type,
       case when s.n_hashes < {k} then cast(s.n_hashes as double)
            else {k - 1} / s.rk_max end as kmv_estimate,
       s.n_hashes, e.n_exact
from sk s join ex e using (event_type)
"""


ORACLES["kmv_distinct_users"] = _kmv_sql(64)

ORACLES["streaming_hourly_rollup"] = """
with wm as (
    select (epoch_us(max(ts)) // 1000) * 1000 - 1000000 as wm_us from events
)
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as window_start,
       event_type,
       cast(count(*) as bigint) as n
from events, wm
where epoch_us(date_trunc('hour', ts) + interval 1 hour) <= wm.wm_us
group by 1, 2
"""

ORACLES["pivot_status_by_priority"] = """
select o_orderpriority as priority,
       cast(sum(case when o_orderstatus = 'O' then 1 else 0 end) as bigint) as n_open,
       cast(sum(case when o_orderstatus = 'F' then 1 else 0 end) as bigint) as n_filled,
       cast(sum(case when o_orderstatus = 'P' then 1 else 0 end) as bigint) as n_pending
from orders
group by o_orderpriority
"""

ORACLES["unpivot_status_counts"] = """
with wide as (
    select o_orderpriority as priority,
           cast(sum(case when o_orderstatus = 'O' then 1 else 0 end) as bigint) as n_open,
           cast(sum(case when o_orderstatus = 'F' then 1 else 0 end) as bigint) as n_filled,
           cast(sum(case when o_orderstatus = 'P' then 1 else 0 end) as bigint) as n_pending
    from orders group by o_orderpriority
)
select priority, 'O' as status, n_open as n from wide
union all
select priority, 'F', n_filled from wide
union all
select priority, 'P', n_pending from wide
"""

ORACLES["window_top3_orders_per_customer"] = """
select o_custkey as customer_key, o_orderkey as order_key,
       o_totalprice as total_price,
       row_number() over (partition by o_custkey
                          order by o_totalprice desc, o_orderkey) as rk
from orders
qualify rk <= 3
"""

ORACLES["running_revenue_by_customer"] = """
select o_custkey as customer_key, o_orderkey as order_key,
       cast(sum(cast(round(o_totalprice * 100) as bigint))
            over (partition by o_custkey
                  order by o_orderdate, o_orderkey
                  rows between unbounded preceding and current row)
            / 100.0 as double) as running_total
from orders
"""

ORACLES["rolling_7day_order_totals"] = """
select o_custkey as customer_key, o_orderkey as order_key,
       cast(o_orderdate as varchar) as order_date,
       cast(sum(cast(round(o_totalprice * 100) as bigint))
            over (partition by o_custkey order by o_orderdate
                  range between interval 7 days preceding and current row)
            / 100.0 as double) as trailing_7d_total
from orders
"""

ORACLES["sessionize_events"] = """
with gaps as (
    select user_id, ts, event_id,
           case when lag(ts) over w is null
                  or (epoch(ts) - epoch(lag(ts) over w)) > 1800
                then 1 else 0 end as is_new
    from events
    where ts is not null and user_id is not null
    window w as (partition by user_id order by ts, event_id)
), sess as (
    select user_id, ts, event_id,
           sum(is_new) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row) as session_id
    from gaps
)
select user_id, cast(session_id as bigint) as session_id,
       cast(count(*) as bigint) as n_events,
       cast(epoch_us(min(ts)) as bigint) as session_start_us,
       cast(epoch_us(max(ts)) as bigint) as session_end_us
from sess
group by user_id, session_id
"""

ORACLES["hourly_event_rollup"] = """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour_bucket,
       event_type,
       cast(count(*) as bigint) as n,
       cast(count(distinct user_id) as bigint) as n_users,
       cast(sum(cast(round(value * 10000) as bigint)) / 10000.0 as double) as sum_value
from events
group by 1, 2
"""

ORACLES["json_extract_props"] = """
select cast(regexp_extract(props, '"k":\\s*(\\d+)', 1) as bigint) as k,
       cast(count(*) as bigint) as n
from events
group by 1
"""

ORACLES["stats_by_returnflag"] = """
with s as (
    select l_returnflag,
           cast(count(*) as bigint) as n,
           cast(sum(cast(l_quantity as bigint)) as bigint) as sq,
           cast(sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)) as bigint) as sq2
    from lineitem group by l_returnflag
)
select l_returnflag,
       n,
       sq / n / 1.0 as mean_qty,
       (sq2 - sq * sq / n / 1.0) / (n - 1) as var_qty,
       sqrt((sq2 - sq * sq / n / 1.0) / (n - 1)) as stddev_qty
from s
"""

ORACLES["percentiles_by_group"] = """
select l_returnflag,
       cast(quantile_cont(l_quantity, 0.25) as double) as p25,
       cast(quantile_cont(l_quantity, 0.5) as double) as p50,
       cast(quantile_cont(l_quantity, 0.75) as double) as p75
from lineitem group by l_returnflag
"""

ORACLES["dynamic_pivot_events"] = """
select user_id,
       cast(count(*) filter (event_type = 'click') as bigint) as n_click,
       cast(count(*) filter (event_type = 'view') as bigint) as n_view,
       cast(count(*) filter (event_type = 'purchase') as bigint) as n_purchase,
       cast(count(*) filter (event_type = 'signup') as bigint) as n_signup,
       cast(count(*) filter (event_type = 'error') as bigint) as n_error
from events
group by user_id
"""

ORACLES["pandas_udf_text_features"] = """
-- CODEPOINT-wise reversal, not DuckDB's native reverse(): utf8proc
-- reverses by extended grapheme cluster (an NFD 'e'+U+0301 stays
-- glued) while the Python kernel reverses by codepoint (the combining
-- mark moves) — different bytes, different md5 (r7 fresh-seed fuzz
-- find; cross-engine class 16).  regexp_split_to_array(text, '')
-- splits per codepoint, so the reversal below mirrors Python's [::-1]
-- exactly; NULL text stays NULL through the chain on both engines.
select doc_id,
       md5(list_aggregate(list_reverse(regexp_split_to_array(text, '')),
           'string_agg', '')) as rev_md5
from documents
"""

ORACLES["set_ops_statuses"] = """
(
  select o_custkey as customer_key from orders where o_orderstatus = 'O'
  intersect
  select o_custkey from orders where o_orderstatus = 'F'
)
except
select o_custkey from orders where o_totalprice > 400000
"""

ORACLES["xdb_datetime_functions"] = """
select o_orderkey as order_key,
       cast(o_orderdate + interval 30 day as varchar) as due_date,
       cast(datediff('month', timestamp '1995-01-01 00:00:00', o_orderdate) as bigint) as months_since_95,
       cast(cast(date_trunc('month', o_orderdate) as timestamp) as varchar) as order_month,
       cast(last_day(o_orderdate) as varchar) as month_end
from orders
where o_orderkey <= 5000
"""

ORACLES["xdb_string_functions"] = """
select p_partkey as part_key,
       p_brand || '#' || p_type as brand_type,
       cast(length(p_name) as bigint) as name_len,
       cast(position('a' in p_name) as bigint) as first_a,
       replace(p_type, ' ', '_') as type_snake,
       right(p_name, 4) as name_tail,
       split_part(p_type, ' ', 1) as type_head,
       md5(cast(p_partkey as varchar)) as key_hash,
       try_cast(p_size as varchar) as size_str,
       (p_brand is not distinct from 'Brand#1') as is_brand1
from part
where p_partkey <= 1000
"""

ORACLES["xdb_listagg_nations"] = """
select r.r_name as region_name,
       array_to_string(list_slice(list(n.n_name order by n.n_name), 1, 3), ',') as top3_nations,
       cast(any_value(r.r_regionkey) as bigint) as region_key,
       bool_or(n.n_nationkey > 20) as has_late_nation
from region r join nation n on n.n_regionkey = r.r_regionkey
group by r.r_name
"""

ORACLES["xdb_date_spine"] = """
with spine as (
    select unnest(generate_series(timestamp '1995-01-01',
                                  timestamp '1995-01-31',
                                  interval 1 day)) as date_day
)
select cast(s.date_day as varchar) as date_day,
       cast(count(o.o_orderkey) as bigint) as n_orders
from spine s
left join orders o on o.o_orderdate = s.date_day
group by s.date_day
"""

ORACLES["xdb_arrays"] = """
select r_name as region_name,
       cast(unnest([r_regionkey, r_regionkey * 10, 100, 999]) as bigint) as v
from region
"""

ORACLES["generate_series_powers"] = """
select cast(n as bigint) as generated_number,
       cast(case when n <= 1 then 0 else length(bin(n - 1)) end as bigint) as pow2
from (select unnest(generate_series(1, 64)) as n)
"""

ORACLES["engine_view_table_ephemeral"] = """
select o.o_orderstatus as status,
       cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) / 10000.0 as double) as revenue,
       cast(count(distinct o.o_orderkey) as bigint) as n_orders
from orders o join lineitem l on o.o_orderkey = l.l_orderkey
group by o.o_orderstatus
"""

ORACLES["engine_incremental_merge"] = """
select o_custkey as customer_key,
       cast(count(*) as bigint) as n_orders,
       cast(max(cast(o_orderdate as varchar)) as varchar) as last_order_date
from orders
group by o_custkey
"""

ORACLES["engine_snapshot_scd2"] = """
with base as (
    select c_custkey as customer_key, c_name as name,
           cast(c_acctbal as double) as acctbal
    from customer where c_custkey <= 200
)
select customer_key, name, acctbal,
       '2020-01-01 00:00:00' as valid_from,
       '2020-02-01 00:00:00' as valid_to
from base where customer_key % 10 = 0
union all
select customer_key, name, acctbal + 100,
       '2020-02-01 00:00:00', cast(null as varchar)
from base where customer_key % 10 = 0
union all
select customer_key, name, acctbal,
       '2020-01-01 00:00:00', cast(null as varchar)
from base where customer_key % 10 <> 0
"""

ORACLES["engine_microbatch_day"] = """
select event_id, cast(epoch_us(ts) as bigint) as ts_us, user_id, event_type,
       cast(value as double) as value
from events
where ts >= timestamp '2024-01-01 00:00:00'
  and ts < timestamp '2024-01-06 00:00:00'
"""

ORACLES["engine_streaming_table"] = """
select event_id, cast(epoch_us(ts) as bigint) as ts_us, user_id,
       upper(event_type) as event_type
from events
"""

ORACLES["engine_generic_test_failures"] = """
select event_type as value_field, cast(count(*) as bigint) as n_records
from events
group by event_type
having event_type not in ('click', 'view')
"""

ORACLES["dedup_exact_docs"] = """
select doc_id, lang, n_chars from documents
qualify row_number() over (partition by md5(text) order by doc_id) = 1
"""

# coalesce: DuckDB array_to_string([], ' ') is NULL where Spark
# concat_ws(' ', []) is '' — an empty-normalized doc must fingerprint
# as md5('') on both engines (gate-fuzz finding)
ORACLES["dedup_fingerprint_docs"] = f"""
select doc_id, md5(coalesce(array_to_string({_WORDS}, ' '), '')) as fingerprint
from documents
"""

ORACLES["ngram_jaccard_docs"] = _JACCARD_BASE.format(thr=0.2)
ORACLES["minhash_lsh_docs"] = _JACCARD_BASE.format(thr=0.7)
ORACLES["simhash_docs"] = _simhash_sql(32)
ORACLES["text_quality_docs"] = _QUALITY_SQL
ORACLES["language_id_docs"] = _language_sql()

ORACLES["token_counts_docs"] = f"""
with w as (select doc_id, {_WORDS} as words from documents)
select doc_id,
       cast(len(words) as bigint) as n_tokens_ws,
       -- NULL text -> NULL count (the coalesce-to-0 is only for the
       -- empty-words list; r6 NULL-doc fuzz)
       cast(case when words is null then null
            else coalesce(list_sum(list_transform(words,
            x -> cast(greatest(1, cast(ceil(length(x) / 4) as bigint)) as bigint))), 0) end as bigint) as n_tokens_bpe
from w
"""

ORACLES["cosine_pairs_embeddings"] = (
    _COSINE_CTE.format(join_cond="a.vec_id < b.vec_id")
    + "select id_a, id_b, cosine from p where cosine >= 0.4"
)

ORACLES["cosine_topk_embeddings"] = (
    _COSINE_CTE.format(join_cond="a.vec_id <> b.vec_id")
    + """
select id_a as query_id, id_b as nbr_id, cosine,
       row_number() over (partition by id_a order by cosine desc, id_b) as rank
from p
qualify rank <= 3
"""
)

ORACLES["cosine_topk_blas_embeddings"] = (
    _COSINE_CTE.format(join_cond="a.vec_id <> b.vec_id")
    + """
select id_a as query_id, id_b as nbr_id, round(cosine, 9) as cosine,
       cast(row_number() over (partition by id_a order by round(cosine, 9) desc, id_b) as int) as rank
from p
qualify rank <= 3
"""
)

# -- ANN oracles ------------------------------------------------------------
# Both ANN families are deterministic given their fixed seeds, so "no exact
# SQL oracle exists" stopped being true once the gate variants pinned their
# randomness: LSH hyperplanes are md5-derived (similarity.py:_hyperplanes),
# and the IVF gate queries run kmeans_iters=0 (centroids = the id-ordered
# seed sample).  Dot products mirror Spark's zip_with/aggregate fold via
# list_sum over an index range — the same bit-exact pattern _COSINE_CTE uses.

def _dot_sql(a: str, b: str) -> str:
    """Ordered dot product of two DOUBLE[] columns (bit-exact mirror of
    operators.similarity._dot: sequential fold in array order)."""
    return (f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i] * {b}[i]))")


# hyperplane value for (t, p, d): int(md5(f"tbl{t}:{p}:{d}")[:8], 16)
# / 0x7FFFFFFF - 1.0  (similarity.py:_hyperplanes with seed=f"tbl{t}")
_LSH_PV = _hex2int(
    "md5('tbl' || cast(t as varchar) || ':' || cast(p as varchar)"
    " || ':' || cast(d as varchar))",
    digits=8,
)

ORACLES["ann_lsh_topk_embeddings"] = f"""
with tpd as (
    select t, p, d, ({_LSH_PV}) / 2147483647.0 - 1.0 as pv
    from (select unnest(generate_series(0, 7)) as t),
         (select unnest(generate_series(0, 4)) as p),
         (select unnest(generate_series(0, 63)) as d)
), pl as (
    select t, p, list(pv order by d) as pl from tpd group by t, p
), v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as n from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), vb as (
    select v.vec_id, pl.t,
           sum(case when {_dot_sql('v.e', 'pl.pl')} >= 0
                    then 1 << p else 0 end) as b
    from v, pl
    group by 1, 2
), cand as (
    select distinct a.vec_id as query_id, c.vec_id as nbr_id
    from vb a join vb c on a.t = c.t and a.b = c.b and a.vec_id <> c.vec_id
), scored as (
    select cand.query_id, cand.nbr_id,
           {_dot_sql('qa.e', 'qc.e')} / (qa.n * qc.n) as cosine
    from cand
    join v qa on qa.vec_id = cand.query_id
    join v qc on qc.vec_id = cand.nbr_id
)
select query_id, nbr_id, round(cosine, 6) as cosine,
       cast(row_number() over (partition by query_id
                               order by round(cosine, 6) desc, nbr_id) as int) as rank
from scored
qualify rank <= 3
"""

# IVF with kmeans_iters=0: centroids = first 16 vectors by vec_id; every
# vector assigned to its best cell (r=1); queries probe their 4 best cells;
# exact cosine among probed members; global top-3.  Identical SQL serves
# both the fold (ivf_topk) and BLAS (ivf_topk_blas) variants — their float
# paths agree within 1e-15 and the output rounds to 6 dp.
_IVF_SQL = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), cents as (
    select vec_id as cell, e as ce, vn as cn
    from v order by vec_id limit 16
), rk as (
    select v.vec_id as id, c.cell,
           {_dot_sql('v.e', 'c.ce')} / (v.vn * c.cn) as cos
    from v, cents c
), ranked as (
    select id, cell,
           row_number() over (partition by id order by round(cos, 6) desc, cell) as r
    from rk
), probes as (
    select id as query_id, cell from ranked where r <= 4
), assign as (
    select id, cell from ranked where r = 1
), scored as (
    select p.query_id, a.id as nbr_id,
           {_dot_sql('q.e', 'm.e')} / (q.vn * m.vn) as cosine
    from probes p
    join assign a using (cell)
    join v q on q.vec_id = p.query_id
    join v m on m.vec_id = a.id
    where p.query_id <> a.id
)
select query_id, nbr_id, round(cosine, 6) as cosine,
       cast(row_number() over (partition by query_id
                               order by round(cosine, 6) desc, nbr_id) as int) as rank
from scored
qualify rank <= 3
"""
ORACLES["ann_ivf_topk_embeddings"] = _IVF_SQL
ORACLES["ann_ivf_blas_topk_embeddings"] = _IVF_SQL

# build-once/search-many IVF: identical math to _IVF_SQL, with probes
# restricted to the vec_id%20==0 query batch (the corpus-side cell
# assignment is unchanged — that is the point of the persisted index)
ORACLES["ann_ivf_index_query_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), cents as (
    select vec_id as cell, e as ce, vn as cn
    from v order by vec_id limit 16
), rk as (
    select v.vec_id as id, c.cell,
           {_dot_sql('v.e', 'c.ce')} / (v.vn * c.cn) as cos
    from v, cents c
), ranked as (
    select id, cell,
           row_number() over (partition by id order by round(cos, 6) desc, cell) as r
    from rk
), probes as (
    select id as query_id, cell from ranked
    where r <= 4 and id % 20 = 0
), assign as (
    select id, cell from ranked where r = 1
), scored as (
    select p.query_id, a.id as nbr_id,
           {_dot_sql('q.e', 'm.e')} / (q.vn * m.vn) as cosine
    from probes p
    join assign a using (cell)
    join v q on q.vec_id = p.query_id
    join v m on m.vec_id = a.id
    where p.query_id <> a.id
)
select query_id, nbr_id, round(cosine, 6) as cosine,
       cast(row_number() over (partition by query_id
                               order by round(cosine, 6) desc, nbr_id) as int) as rank
from scored
qualify rank <= 3
"""


ORACLES["pipeline_clean_corpus"] = f"""
with q as (select * from ({_QUALITY_SQL}) tq),
l as (select * from ({_language_sql()}) tl),
keep as (
    select d.doc_id, d.text, l.detected_lang, q.n_words, q.quality_score
    from documents d join q using (doc_id) join l using (doc_id)
    where q.quality_score >= 0.6 and l.detected_lang = 'en'
),
kw as (select doc_id as id, {_WORDS} as words from keep),
ksh as (
    select id, case when len(words) >= 3 then {_SHINGLES} else [] end as shingles
    from kw
),
kshn as (select id, shingles, len(shingles) as n_sh from ksh where len(shingles) > 0),
kf as (select id, unnest(shingles) as s from kshn),
kshared as (
    select a.id as id_a, b.id as id_b, count(*) as shared
    from kf a join kf b on a.s = b.s and a.id < b.id
    group by 1, 2
),
losers as (
    select distinct s.id_b as doc_id
    from kshared s
    join kshn na on na.id = s.id_a
    join kshn nb on nb.id = s.id_b
    where s.shared / (na.n_sh + nb.n_sh - s.shared) >= 0.5
)
select k.doc_id, k.detected_lang, k.n_words, k.quality_score
from keep k
where k.doc_id not in (select doc_id from losers)
"""

ORACLES["winnow_fingerprint_docs"] = f"""
with wds as (
    select doc_id, {_WORDS} as words
    from documents where text is not null
), g as (
    select doc_id,
           list_transform(range(1, len(words) - 3 + 2),
                          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) as grams
    from wds where len(words) >= 3
), h as (
    select doc_id,
           list_transform(grams, g -> cast({_hex2int("md5(g)")} as bigint)) as hs
    from g
), f as (
    select doc_id,
           case when len(hs) >= 4
                then list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                                                  j -> list_min(hs[j:j+3])))
                else [list_min(hs)] end as fps
    from h
)
select doc_id, cast(unnest(fps) as bigint) as fingerprint from f
"""

_PII = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+?\d{1,2}[-. ]\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

# mirror of __spark_entry__._PII_AUG (DuckDB concat/lpad agree with Spark)
_PII_AUG_SQL = (
    "concat(text, ' contact u', cast(doc_id as varchar), '@example.com or +1 "
    "555-123-', lpad(cast(doc_id % 10000 as varchar), 4, '0'), ' ssn 123-45-', "
    "lpad(cast(doc_id % 10000 as varchar), 4, '0'), ' ip 10.0.', "
    "cast(doc_id % 256 as varchar), '.7')"
)

ORACLES["pii_scrub_docs"] = f"""
with aug as (
    -- case: DuckDB concat() IGNORES NULL args where Spark concat
    -- yields NULL — a NULL-text doc must stay NULL end-to-end
    select doc_id,
           case when text is null then null else {_PII_AUG_SQL} end as t0
    from documents
), s1 as (
    select doc_id, t0,
           regexp_replace(t0, '{_PII["email"]}', '[EMAIL]', 'g') as t1
    from aug
), s2 as (
    select *, regexp_replace(t1, '{_PII["ssn"]}', '[SSN]', 'g') as t2 from s1
), s3 as (
    select *, regexp_replace(t2, '{_PII["phone"]}', '[PHONE]', 'g') as t3 from s2
), s4 as (
    select *, regexp_replace(t3, '{_PII["ipv4"]}', '[IP]', 'g') as t4 from s3
)
select doc_id, md5(t4) as scrubbed_md5,
       cast(len(regexp_extract_all(t0, '{_PII["email"]}')) as bigint) as n_email,
       cast(len(regexp_extract_all(t1, '{_PII["ssn"]}')) as bigint) as n_ssn,
       cast(len(regexp_extract_all(t2, '{_PII["phone"]}')) as bigint) as n_phone,
       cast(len(regexp_extract_all(t3, '{_PII["ipv4"]}')) as bigint) as n_ipv4
from s4
"""

ORACLES["cc_dedup_docs"] = f"""
with recursive pairs as (
    select id_a, id_b from ({_JACCARD_BASE.format(thr=0.5)}) tp
), edges as (
    select id_a as src, id_b as dst from pairs
    union
    select id_b as src, id_a as dst from pairs
), reach(node, lab) as (
    select distinct src, src from edges
    union
    select e.dst, r.lab from edges e join reach r on e.src = r.node
)
select node as doc_id, cast(min(lab) as bigint) as component
from reach group by node
"""

ORACLES["chunk_documents_docs"] = f"""
with w as (
    select doc_id, {_WORDS} as words
    from documents where text is not null
), nz as (
    select doc_id, words from w where len(words) > 0
), s as (
    select doc_id, words,
           range(1, greatest(len(words) - 10, 1) + 1, 30) as starts
    from nz
)
select doc_id, cast(ch['idx'] as bigint) as chunk_idx,
       cast(ch['txt'] as varchar) as chunk_text,
       cast(ch['nw'] as bigint) as n_words
from (
    select doc_id,
           unnest(list_transform(range(1, len(starts) + 1),
                  i -> {{'idx': i - 1,
                        'txt': array_to_string(words[starts[i]:starts[i]+39], ' '),
                        'nw': len(words[starts[i]:starts[i]+39])}})) as ch
    from s
)
"""

_SPLIT_BUCKET = _hex2int("md5('split:' || cast(doc_id as varchar))")

ORACLES["assign_splits_docs"] = f"""
select doc_id,
       cast(({_SPLIT_BUCKET}) % 10000 as bigint) as bucket,
       case when ({_SPLIT_BUCKET}) % 10000 < 9000 then 'train'
            when ({_SPLIT_BUCKET}) % 10000 < 9500 then 'val'
            else 'test' end as split
from documents
"""

ORACLES["multimodal_features_docs"] = """
select doc_id as media_id,
       cast(octet_length(encode(text)) as bigint) as n_bytes,
       cast(octet_length(encode(text)) % 97 as bigint) as feature
from documents
"""

ORACLES["multimodal_frame_sample"] = """
select doc_id as media_id,
       cast(unnest(generate_series(0, (doc_id % 5 + 1) * 1000, 1000)) as bigint) as frame_ts_ms
from documents
"""

ORACLES["multimodal_decode_wav_ppm"] = """
select doc_id as media_id,
       case when doc_id % 2 = 0 then 'wav' else 'ppm' end as kind,
       case when doc_id % 2 = 0 then null
            else cast(4 + doc_id % 13 as int) end as width,
       case when doc_id % 2 = 0 then null
            else cast(3 + doc_id % 7 as int) end as height,
       case when doc_id % 2 = 0 then cast(8000 as int) else null end as sample_rate,
       -- coalesce: synth_media is a TOTAL deterministic function —
       -- NULL text synthesizes as empty text (len 0), unlike the
       -- attach_media family where a NULL payload stays NULL
       -- (r6 doc-gate fuzz finding)
       case when doc_id % 2 = 0
            then cast(8 * (coalesce(length(text), 0) % 50 + 1) as bigint) else null end as n_samples,
       case when doc_id % 2 = 0
            then cast(coalesce(length(text), 0) % 50 + 1 as bigint) else null end as duration_ms,
       case when doc_id % 2 = 0
            then cast(100 + doc_id % 900 as bigint) else null end as peak,
       case when doc_id % 2 = 0 then cast(100 + doc_id % 900 as double)
            else cast(doc_id % 256 as double) end as mean_value
from documents
"""

ORACLES["gopher_repetition_docs"] = """
with w as (
  select doc_id, string_split(text, ' ') as words from documents
),
base as (
  select doc_id,
         cast(len(words) as int) as n_words,
         cast(len(list_distinct(words)) as int) as n_distinct_words
  from w
),
bg as (
  select doc_id, words[i] || ' ' || words[i+1] as bigram
  from w, unnest(generate_series(1, len(words) - 1)) as t(i)
  where len(words) >= 2
),
cnt as (
  select doc_id, bigram, count(*) as c from bg group by 1, 2
),
top as (
  select doc_id, bigram as top_bigram, c as top_bigram_count
  from (
    select doc_id, bigram, c,
           row_number() over (partition by doc_id
                              order by c desc, bigram desc) as rn
    from cnt
  ) where rn = 1
)
select b.doc_id,
       b.n_words,
       b.n_distinct_words,
       1.0 - b.n_distinct_words / cast(b.n_words as double) as dup_word_frac,
       t.top_bigram,
       cast(t.top_bigram_count as bigint) as top_bigram_count,
       cast(b.n_words - 1 as bigint) as n_bigrams,
       t.top_bigram_count / cast(b.n_words - 1 as double) as top_bigram_frac
from base b left join top t using (doc_id)
"""

ORACLES["source_cap_docs"] = """
select doc_id, source, cast(rn as bigint) as rank_in_group
from (
  select doc_id, source,
         row_number() over (partition by source order by doc_id) as rn
  from documents
)
where rn <= 7
"""

ORACLES["boilerplate_ngram_docs"] = """
with w as (
  select doc_id, string_split(text, ' ') as words from documents
),
g as (
  select doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in generate_series(1, len(words) - 2)]) as shingles
  from w where len(words) >= 3
),
ex as (select doc_id, unnest(shingles) as shingle from g),
freq as (select shingle, count(*) as c from ex group by 1),
common as (select shingle from freq where c >= 5),
per_common as (
  select doc_id, count(*) as n_common
  from ex where shingle in (select shingle from common)
  group by 1
),
base as (select doc_id, len(shingles) as n_shingles from g)
select b.doc_id,
       cast(b.n_shingles as bigint) as n_shingles,
       cast(coalesce(p.n_common, 0) as bigint) as n_common_shingles,
       coalesce(p.n_common, 0) / cast(b.n_shingles as double) as common_frac
from base b left join per_common p using (doc_id)
"""

ORACLES["streaming_session_rollup"] = """
with wm as (
    select (epoch_us(max(ts)) // 1000) * 1000 - 1000000 as wm_us from events
),
o as (
    -- ts is not null: Spark's session_window DROPS null event-time
    -- rows; the unfiltered oracle counted them into sessions
    -- (gate-fuzz finding)
    select user_id, ts,
           lag(ts) over (partition by user_id order by ts) as prev
    from events
    where ts is not null
),
m as (
    select user_id, ts,
           case when prev is null
                     or epoch_us(ts) - epoch_us(prev) > 600000000
                then 1 else 0 end as brk
    from o
),
s as (
    select user_id, ts,
           sum(brk) over (partition by user_id order by ts
                          rows unbounded preceding) as sid
    from m
),
agg as (
    select user_id, sid,
           min(ts) as st, max(ts) + interval 10 minute as en,
           count(*) as n
    from s group by 1, 2
)
select strftime(st, '%Y-%m-%d %H:%M:%S') as session_start,
       strftime(en, '%Y-%m-%d %H:%M:%S') as session_end,
       cast(user_id as bigint) as user_id,
       cast(n as bigint) as n
from agg, wm
where epoch_us(en) <= wm.wm_us
"""

ORACLES["decontaminate_docs"] = """
with norm as (
  select doc_id,
         list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'),
           w -> w <> '') as words
  from documents
),
sh as (
  select doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, len(words) - 2)]) as shingles
  from norm where len(words) >= 3
),
probe as (
  select distinct unnest(shingles) as shingle from sh where doc_id % 50 = 0
),
corpus as (
  select doc_id, unnest(shingles) as shingle from sh where doc_id % 50 <> 0
)
select c.doc_id,
       cast(count(*) as bigint) as n_hits,
       min(c.shingle) as sample_hit
from corpus c join probe p using (shingle)
group by c.doc_id
"""

ORACLES["incremental_dedup_docs"] = f"""
with sh0 as (
    select doc_id as id, {_WORDS} as words from documents
), sh as (
    select id, case when len(words) >= 3 then {_SHINGLES} else [] end as shingles
    from sh0
), shn as (
    select id, shingles, len(shingles) as n_sh from sh where len(shingles) > 0
), f as (
    select id, unnest(shingles) as s from shn
), shared as (
    select c.id as corpus_id, b.id as batch_id, count(*) as shared
    from f c join f b on c.s = b.s and c.id < 400 and b.id >= 400
    group by 1, 2
)
select s.corpus_id, s.batch_id,
       s.shared / (nc.n_sh + nb.n_sh - s.shared) as jaccard
from shared s
join shn nc on nc.id = s.corpus_id
join shn nb on nb.id = s.batch_id
where s.shared / (nc.n_sh + nb.n_sh - s.shared) >= 0.7
"""

ORACLES["quantize_embeddings_int8"] = """
with v as (
  select vec_id,
         list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
),
s as (
  select vec_id, e,
         list_max(list_transform(e, x -> abs(x))) as scale
  from v
),
q as (
  select vec_id,
         scale,
         case when scale = 0
              then list_transform(e, x -> 0)
              else list_transform(e, x -> cast(floor(x / scale * 127 + 0.5) as int))
         end as q
  from s
  -- finite contract (r6 NaN/Inf fuzz): NaN/Inf components make the
  -- max-|x| scale non-finite; NULL embeddings yield NULL scale — both
  -- drop (they produced zero exploded rows on either engine anyway)
  where scale < 'infinity'::double
)
select vec_id,
       scale,
       unnest(generate_series(0, len(q) - 1)) as pos,
       unnest(list_transform(q, x -> cast(x as bigint))) as qval
from q
"""


# -- deterministic HLL sketch (mirror of operators.sketches.hll_distinct:
#    same md5→60-bit hash, bucket/rho integer math, exact scaled harmonic
#    sum; C = alpha_256 * 256^2 * 2^40 injected as one double literal) --
_HLL_C = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256 * float(1 << 40))
_HLL_H = _hex2int("substr(md5(cast(event_id as varchar)), 1, 15)", digits=15)
ORACLES["hll_distinct_events"] = f"""
with h as (
    select event_type, cast({_HLL_H} as bigint) as h from events
), b as (
    select event_type, h % 256 as bucket,
           least(52 - length(bin(h >> 8)) + 1, 40) as rho
    from h
), regs as (
    select event_type, bucket, max(rho) as m from b group by 1, 2
), pg as (
    select event_type,
           sum(cast(1 as bigint) << (40 - m)) as s_ne,
           cast(count(*) as bigint) as n_registers
    from regs group by 1
), est as (
    select event_type, n_registers,
           cast(s_ne + (256 - n_registers) * (cast(1 as bigint) << 40) as double)
               as s_total,
           256 - n_registers as zeros
    from pg
), ex as (
    select event_type, cast(count(distinct event_id) as bigint) as n_exact
    from events group by 1
)
select e.event_type,
       round(case when {_HLL_C} / s_total <= 640.0 and zeros > 0
                  then 256.0 * ln(256.0 / zeros)
                  else {_HLL_C} / s_total end, 6) as hll_estimate,
       e.n_registers, x.n_exact
from est e join ex x using (event_type)
"""

ORACLES["tfidf_top_terms_docs"] = f"""
with w as (
    select doc_id, unnest({_WORDS}) as term from documents where text is not null
), tf as (
    select doc_id, term, cast(count(*) as bigint) as tf from w group by 1, 2
), dfq as (
    select term, cast(count(*) as bigint) as df_docs from tf group by 1
), nd as (
    select cast(count(*) as bigint) as n_docs from documents where text is not null
), ranked as (
    select tf.doc_id, tf.term, tf.tf, dfq.df_docs,
           tf.tf * ln(cast(n_docs as double) / cast(df_docs as double)) as tfidf,
           row_number() over (
               partition by tf.doc_id
               order by tf.tf * ln(cast(n_docs as double) / cast(df_docs as double))
                        desc, tf.term asc) as rn
    from tf join dfq using (term) cross join nd
)
select doc_id, term, tf, df_docs, round(tfidf, 6) as tfidf,
       cast(rn as bigint) as term_rank
from ranked where rn <= 3
"""

ORACLES["build_vocab_docs"] = f"""
with w as (
    select unnest({_WORDS}) as term from documents where text is not null
), c as (
    select term, cast(count(*) as bigint) as n from w
    group by 1 having count(*) >= 2
), ranked as (
    select cast(row_number() over (order by n desc, term asc) as bigint) - 1
               as token_id,
           term, n
    from c
)
select token_id, term, n from ranked where token_id < 50000
"""

_SAMP_H = _hex2int("substr(md5(cast(doc_id as varchar)), 1, 15)", digits=15)
ORACLES["stratified_sample_docs"] = f"""
with c as (
    select source, cast(count(*) as bigint) as gn from documents group by 1
)
select d.doc_id, d.source, c.gn as group_count
from documents d join c using (source)
where (cast({_SAMP_H} as bigint) % 1000000) * c.gn < 8 * 1000000
"""


# -- Bloom membership (mirror of operators.sketches.bloom_membership:
#    pos_i = md5(value || '#i') mod 4096, k=3; contained ⇔ all k bits set) --
def _bloom_pos(expr: str, i: int) -> str:
    h = _hex2int(f"substr(md5(cast({expr} as varchar) || '#{i}'), 1, 15)",
                 digits=15)
    return f"(cast({h} as bigint) % 4096)"


ORACLES["bloom_membership_docs"] = f"""
with probes as (
    select (i * 97 + 5) as probe_id from range(0, 200) t(i)
), corpus_bits as (
    select distinct bit from (
        select unnest([{_bloom_pos('doc_id', 0)}, {_bloom_pos('doc_id', 1)},
                       {_bloom_pos('doc_id', 2)}]) as bit
        from documents
    )
), verdicts as (
    -- a probe's positions can self-collide: the verdict is "every
    -- DISTINCT position set", mirroring sketches.bloom_membership
    select probe_id, bool_and(bit in (select bit from corpus_bits)) as might_contain
    from (
        select distinct probe_id,
               unnest([{_bloom_pos('probe_id', 0)}, {_bloom_pos('probe_id', 1)},
                       {_bloom_pos('probe_id', 2)}]) as bit
        from probes
    ) pb
    group by probe_id
), present as (
    select distinct doc_id as probe_id from documents
)
select p.probe_id,
       v.might_contain,
       pr.probe_id is not null as actually_present,
       v.might_contain and pr.probe_id is null as false_positive
from probes p
left join verdicts v using (probe_id)
left join present pr using (probe_id)
"""

ORACLES["pack_sequences_docs"] = f"""
with toks as (
    select doc_id, source, cast(len({_WORDS}) as bigint) as n_tokens
    from documents
), cum as (
    select doc_id, source, n_tokens,
           sum(n_tokens) over (partition by source order by doc_id
                               rows between unbounded preceding
                               and current row) as c
    from toks
)
select doc_id, source, n_tokens,
       cast(floor((c - n_tokens) / 256) as bigint) as bin_id,
       cast((c - n_tokens) % 256 as bigint) as bin_offset
from cum
"""


# -- histogram quantile sketch (mirror of
#    operators.sketches.histogram_quantiles: lo=0, hi=500, 256 bins;
#    width = 500/256 = 1.953125 exactly) --
ORACLES["quantile_sketch_events"] = """
with hist as (
    select event_type,
           cast(least(greatest(floor((value - 0.0) / 500.0 * 256), 0), 255)
                as bigint) as bin,
           cast(count(*) as bigint) as n
    from events where value is not null
    group by 1, 2
), cum as (
    select event_type, bin,
           sum(n) over (partition by event_type order by bin
                        rows between unbounded preceding and current row) as c,
           sum(n) over (partition by event_type) as total
    from hist
), qs as (
    select unnest([cast(0.5 as double), cast(0.95 as double),
                   cast(0.99 as double)]) as q
)
select h.event_type, q.q,
       (min(h.bin) + 1) * cast(1.953125 as double) as quantile_est
from cum h cross join qs q
where h.c >= ceil(q.q * h.total)
group by 1, 2
"""


# -------------------------------------------------------------------------
# corpus composition (operators/corpus.py + similarity.semantic_dedup)
# -------------------------------------------------------------------------

# 3-word line derivation mirrored from __spark_entry__._lined_docs
_LINED = """
lines0 as (
    select doc_id,
           i as pos,
           array_to_string(list_slice(
               string_split(replace(text, chr(10), ' '), ' '),
               i * 3 + 1, i * 3 + 3), ' ') as line
    from documents,
         unnest(generate_series(
             0, cast(floor((len(string_split(replace(text, chr(10), ' '),
                                             ' ')) - 1) / 3) as int)
         )) as t(i)
    where text is not null
), lines as (
    select doc_id, pos, line, trim(lower(line)) as nline from lines0
)
"""

ORACLES["line_dedup_docs"] = f"""
with {_LINED},
boiler as (
    select nline from lines
    where nline <> ''
    group by nline
    having count(distinct doc_id) >= 3
),
kept as (
    select l.doc_id, l.pos, l.line
    from lines l anti join boiler b on l.nline = b.nline
),
rebuilt as (
    select doc_id,
           string_agg(line, chr(10) order by pos) as text_clean,
           cast(count(*) as bigint) as n_kept
    from kept group by doc_id
),
totals as (
    select doc_id, cast(count(*) as bigint) as n_lines
    from lines group by doc_id
)
select t.doc_id,
       coalesce(r.text_clean, '') as text_clean,
       t.n_lines,
       cast(t.n_lines - coalesce(r.n_kept, 0) as bigint) as n_removed
from totals t left join rebuilt r on t.doc_id = r.doc_id
"""

ORACLES["ngram_lm_docs"] = f"""
with w as (
    select doc_id, {_WORDS} as ws from documents where text is not null
),
bg as (
    select doc_id, ws[i - 1] as w1, ws[i] as w2
    from w, unnest(generate_series(2, len(ws))) as t(i)
    where len(ws) >= 2
),
dt as (
    select doc_id, w1, w2, cast(count(*) as bigint) as n_ij
    from bg group by 1, 2, 3
),
c12 as (
    select w1, w2, cast(count(*) as bigint) as c12
    from bg group by 1, 2
),
uni as (
    select word as w1, cast(count(*) as bigint) as c1
    from (select unnest(ws) as word from w) group by 1
),
vs as (select cast(count(*) as bigint) as v_size from uni),
scored as (
    select dt.doc_id, dt.n_ij,
           cast(floor(ln((c12.c12 + 1) * 1.0 / (uni.c1 + 1 * vs.v_size))
                      * 1000000) as bigint) as lp_micro
    from dt
    join c12 using (w1, w2)
    join uni using (w1)
    cross join vs
)
select doc_id,
       cast(sum(n_ij) as bigint) as n_bigrams,
       cast(sum(n_ij * lp_micro) as bigint) as sum_lp_micro,
       -- floor-form rounding (class 17): round() here rounds the
       -- binary value while Spark's rounds the shortest decimal —
       -- integer-ratio quotients terminating at a 6-dp half diverge
       floor(cast(sum(n_ij * lp_micro) as double)
             / cast(sum(n_ij) as bigint) + 0.5) / 1000000.0 as avg_logprob
from scored group by doc_id
"""

# md5(seed:id) -> 60-bit int (same portable hex fold as stratified_sample)
_ES_H15 = _hex2int("substr(skey, 1, 15)", digits=15)

ORACLES["epoch_shuffle_docs"] = f"""
with k as (
    select doc_id, md5('42:' || cast(doc_id as varchar)) as skey
    from documents
),
s as (
    select doc_id, skey, cast(({_ES_H15}) % 8 as int) as shard from k
)
select doc_id, shard,
       cast(row_number() over (partition by shard order by skey, doc_id)
            as bigint) as pos
from s
"""

_MIX_VALUES = ", ".join(f"('src{i}', {(i + 1) * 4762})" for i in range(20))
_MX_H15 = _hex2int("substr(md5('0:' || cast(doc_id as varchar)), 1, 15)",
                   digits=15)

ORACLES["mixture_sample_docs"] = f"""
with wts(source, w_ppm) as (values {_MIX_VALUES}),
cnt as (
    select source, cast(count(*) as bigint) as n_source
    from documents group by 1
),
j as (
    select c.source, c.n_source, w.w_ppm
    from cnt c join wts w using (source)
),
b as (
    select min(cast(floor(n_source * 1000000.0 / w_ppm) as bigint)) as budget
    from j
),
tj as (
    select j.source, j.n_source,
           cast(floor(j.w_ppm * b.budget / 1000000.0) as bigint) as target_n
    from j cross join b
)
select d.doc_id, d.source, tj.n_source, tj.target_n
from documents d
join tj using (source)
where (({_MX_H15}) % 1000000) * tj.n_source < tj.target_n * 1000000
"""

# feature-hashing embeddings: md5 bucket (15-hex fold % dim) + sign
# (1-hex fold % 2), signed integer counts L2-normalized — integer
# squares make the norm exact in any fold order; sparse (pos, val)
# output at 6 dp
ORACLES["hash_embed_docs"] = f"""
with w as (
    select doc_id, unnest({_WORDS}) as word
    from documents where text is not null
), b as (
    select doc_id,
           cast(({_hex2int("md5(word)", 15)}) % 64 as bigint) as pos,
           cast(({_hex2int("md5('s:' || word)", 1)}) % 2 as bigint) * 2 - 1 as sgn
    from w
), g as (
    select doc_id, pos, cast(sum(sgn) as double) as v from b group by 1, 2
), n as (
    select doc_id, sqrt(sum(v * v)) as nrm from g group by 1
)
select g.doc_id, cast(g.pos as int) as pos, round(g.v / n.nrm, 6) as val
from g join n using (doc_id)
where n.nrm > 0 and g.v <> 0
"""

# ingest-flow SemDeDup on the persisted IVF index: the vec_id%20==0
# batch vs the indexed rest-of-corpus.  Cell labels are the build's
# 0-based seed index (row_number over seed order - 1); both sides
# assign by the same argmax rule, keeper = lowest corpus id >= tau.
ORACLES["semantic_dedup_incremental_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), corpus as (
    select * from v where vec_id % 20 <> 0
), batch as (
    select * from v where vec_id % 20 = 0
), cents as (
    select cast(row_number() over (order by vec_id) - 1 as bigint) as cell,
           e as ce, vn as cn
    from (select * from corpus order by vec_id limit 16)
), crk as (
    select c.vec_id as id, t.cell,
           row_number() over (
               partition by c.vec_id
               order by round({_dot_sql('c.e', 't.ce')} / (c.vn * t.cn), 6)
                        desc, t.cell
           ) as r
    from corpus c, cents t
), cassign as (
    select id, cell from crk where r = 1
), brk as (
    select b.vec_id as id, t.cell,
           row_number() over (
               partition by b.vec_id
               order by round({_dot_sql('b.e', 't.ce')} / (b.vn * t.cn), 6)
                        desc, t.cell
           ) as r
    from batch b, cents t
), bassign as (
    select id, cell from brk where r = 1
), pairs as (
    select ba.id as vec_id, ca.id as keeper_id,
           {_dot_sql('b.e', 'm.e')} / (b.vn * m.vn) as cosine,
           ba.cell
    from bassign ba
    join cassign ca using (cell)
    join batch b on b.vec_id = ba.id
    join corpus m on m.vec_id = ca.id
    where round({_dot_sql('b.e', 'm.e')} / (b.vn * m.vn), 6) >= 0.2
      and ba.id <> ca.id
)
select vec_id, keeper_id, round(cosine, 6) as cosine, cell
from pairs
qualify row_number() over (partition by vec_id order by keeper_id) = 1
"""

# composed pipeline: mixture keep-rule -> epoch-shuffle (shard,pos) ->
# the WebDataset readback manifest (tar bytes round-trip adds nothing
# the SQL can't see: key embeds (shard,pos,doc_id), payload is the md5
# of the utf-8 text, meta carries doc_id)
ORACLES["webdataset_pipeline_docs"] = f"""
with wts(source, w_ppm) as (values {_MIX_VALUES}),
cnt as (
    select source, cast(count(*) as bigint) as n_source
    from documents group by 1
),
j as (
    select c.source, c.n_source, w.w_ppm
    from cnt c join wts w using (source)
),
b as (
    select min(cast(floor(n_source * 1000000.0 / w_ppm) as bigint)) as budget
    from j
),
tj as (
    select j.source, j.n_source,
           cast(floor(j.w_ppm * b.budget / 1000000.0) as bigint) as target_n
    from j cross join b
),
picked as (
    select d.doc_id, d.text
    from documents d
    join tj using (source)
    where (({_MX_H15}) % 1000000) * tj.n_source < tj.target_n * 1000000
),
k as (
    select doc_id, text, md5('42:' || cast(doc_id as varchar)) as skey
    from picked
),
s as (
    select doc_id, text, skey, cast(({_ES_H15}) % 8 as int) as shard from k
),
p as (
    select doc_id, text, shard,
           cast(row_number() over (partition by shard order by skey, doc_id)
                as bigint) as pos
    from s
)
select shard,
       printf('%03d-%08d-%d', shard, pos, doc_id) as key,
       md5(text) as payload_md5,
       doc_id
from p
"""

ORACLES["bpe_pair_docs"] = f"""
with vocab as (
    select word, cast(count(*) as bigint) as n_word
    from (select unnest({_WORDS}) as word
          from documents where text is not null)
    group by 1 having length(word) >= 2
),
pairs as (
    select substr(word, i, 2) as pair, n_word
    from vocab, unnest(generate_series(1, length(word) - 1)) as t(i)
),
c as (select pair, cast(sum(n_word) as bigint) as n from pairs group by 1)
select pair, n,
       cast(row_number() over (order by n desc, pair) as bigint) as rank
from c qualify rank <= 50
"""

# SemDeDup with kmeans_iters=0: centroids = first 4 vec_ids (the ivf_topk
# oracle convention); r=1 cell assignment; within-cell pairs id_a < id_b
# at cosine >= 0.42; keeper = lowest qualifying id_a per duplicate.
ORACLES["semantic_dedup_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
),
v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
),
cents as (
    select vec_id as cell, e as ce, vn as cn
    from v order by vec_id limit 16
),
rk as (
    select v.vec_id as id, c.cell,
           {_dot_sql('v.e', 'c.ce')} / (v.vn * c.cn) as cos
    from v, cents c
),
assign as (
    select id, cell from (
        select id, cell,
               row_number() over (partition by id
                                  order by round(cos, 6) desc, cell) as r
        from rk
    ) where r = 1
),
m as (
    select a.id, a.cell, v.e, v.vn
    from assign a join v on v.vec_id = a.id
),
p as (
    select x.cell, x.id as id_a, y.id as id_b,
           {_dot_sql('x.e', 'y.e')} / (x.vn * y.vn) as cosine
    from m x join m y on x.cell = y.cell and x.id < y.id
),
q as (select * from p where round(cosine, 6) >= 0.42)
select id_b as vec_id, id_a as keeper_id,
       round(cosine, 6) as cosine, cell
from (
    select *, row_number() over (partition by id_b order by id_a) as r
    from q
) where r = 1
"""


ORACLES["tokenize_docs"] = f"""
with w as (
    select unnest({_WORDS}) as term from documents where text is not null
), c as (
    select term, cast(count(*) as bigint) as n from w
    group by 1 having count(*) >= 2
), vocab as (
    select term,
           cast(row_number() over (order by n desc, term asc) as bigint) - 1
               as token_id
    from c
    qualify token_id < 50000
), dws as (
    select doc_id, {_WORDS} as ws from documents where text is not null
), dw as (
    select doc_id, ws[i] as term, cast(i - 1 as bigint) as pos
    from dws, unnest(generate_series(1, len(ws))) as t(i)
)
select dw.doc_id, dw.pos,
       cast(coalesce(v.token_id, -1) as bigint) as token_id
from dw left join vocab v using (term)
"""

ORACLES["semantic_dedup_blas_embeddings"] = ORACLES["semantic_dedup_embeddings"]


ORACLES["pool_embeddings_by_label"] = """
with e as (
    select label,
           cast(i - 1 as bigint) as pos,
           -- double-first: DuckDB's FLOAT->DECIMAL cast scales in
           -- float32 (0.1f -> 0.099999997952) while Spark rounds the
           -- exact value; FLOAT->DOUBLE->DECIMAL agrees bit-for-bit
           -- on both engines (gate-fuzz finding)
           cast(cast(embedding[i] as double) as decimal(28,12)) as vd
    from embeddings, unnest(generate_series(1, len(embedding))) as t(i)
    where embedding is not null
      -- finite contract (r6 NaN/Inf fuzz): corrupt vectors excluded whole
      and list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double
)
select label, pos,
       -- + 0.0 canonicalizes IEEE -0.0 (a tiny negative sum rounds to
       -- -0.0 here while Spark's DECIMAL sum has no signed zero) —
       -- gate-fuzz finding
       -- floor-form rounding (class 17)
       floor(cast(sum(vd) as double) / count(*) * 1000000 + 0.5)
           / 1000000.0 + 0.0 as mean_val
from e group by 1, 2
"""


# substring-level duplicate spans: md5-hashed positional 5-grams,
# distinct-doc counts, per-doc island merge (overlap-or-adjacent) —
# mirrors operators.dedup.dup_ngram_spans bit for bit
ORACLES["dup_span_docs"] = f"""
with w as (select doc_id, {_WORDS} as ws from documents where text is not null),
g as (
    select doc_id, cast(i as bigint) as start,
           md5(array_to_string(ws[i:i+4], ' ')) as gh
    from w, unnest(generate_series(1, len(ws) - 4)) as t(i)
    where len(ws) >= 5
),
dup as (select gh from g group by gh having count(distinct doc_id) >= 2),
h as (select g.doc_id, g.start, g.start + 4 as e from g join dup using (gh)),
m as (select doc_id, start, e,
        max(e) over (partition by doc_id order by start
                     rows between unbounded preceding and 1 preceding) as pme
      from h),
i as (select doc_id, start, e,
        sum(case when pme is null or start > pme + 1 then 1 else 0 end)
          over (partition by doc_id order by start
                rows between unbounded preceding and current row) as island
      from m)
select doc_id, min(start) as span_start, max(e) as span_end,
       cast(max(e) - min(start) + 1 as bigint) as span_words,
       cast(count(*) as bigint) as n_grams
from i group by doc_id, island
"""

# DSIR hashed-unigram importance: target = lang='en', dim=256 buckets,
# per-bucket target/raw log-probs floored to micro-nats separately —
# mirrors operators.corpus.dsir_score
_DSIR_B = f"cast(({_hex2int('md5(w)', 15)}) % 256 as bigint)"

ORACLES["dsir_score_docs"] = f"""
with tw as (select unnest({_WORDS}) as w
            from documents where text is not null and lang = 'en'),
rw as (select doc_id, unnest({_WORDS}) as w
       from documents where text is not null),
tb as (select {_DSIR_B} as bucket, cast(count(*) as bigint) as c_t
       from tw group by 1),
rb as (select {_DSIR_B} as bucket, cast(count(*) as bigint) as c_r
       from rw group by 1),
tt as (select cast(sum(c_t) as bigint) as n_t from tb),
rt as (select cast(sum(c_r) as bigint) as n_r from rb),
bk as (select cast(range as bigint) as bucket from range(256)),
lr as (
    select bk.bucket,
           cast(floor(ln((coalesce(tb.c_t, 0) + 1) * 1.0 / (tt.n_t + 256))
                      * 1000000)
              - floor(ln((coalesce(rb.c_r, 0) + 1) * 1.0 / (rt.n_r + 256))
                      * 1000000) as bigint) as lr_micro
    from bk left join tb using (bucket) left join rb using (bucket)
    cross join tt cross join rt
),
db as (select doc_id, {_DSIR_B} as bucket, cast(count(*) as bigint) as n
       from rw group by 1, 2)
select db.doc_id,
       cast(sum(db.n) as bigint) as n_tokens,
       cast(sum(db.n * lr.lr_micro) as bigint) as sum_lr_micro,
       -- floor-form rounding (class 17 — this column diverged on
       -- 3/5000 docs at sf0.1)
       floor(cast(sum(db.n * lr.lr_micro) as double)
             / cast(sum(db.n) as bigint) + 0.5) / 1000000.0 as avg_logratio
from db join lr using (bucket)
group by db.doc_id
"""


# ANN recall@3: approximate (deterministic IVF) vs exact top-3 — both
# sides reuse the proven oracle texts verbatim, so the recall math is
# the only new logic
ORACLES["ann_recall_ivf_embeddings"] = f"""
with exact as (select * from ({ORACLES["cosine_topk_blas_embeddings"]}) e),
approx as (select * from ({_IVF_SQL}) a),
hits as (
    select a.query_id, cast(count(*) as bigint) as n_hit
    from approx a
    join exact e on e.query_id = a.query_id and e.nbr_id = a.nbr_id
    group by 1
),
q as (select distinct query_id from exact)
select q.query_id,
       cast(coalesce(h.n_hit, 0) as bigint) as n_hit,
       round(coalesce(h.n_hit, 0) / 3.0, 6) as recall
from q left join hits h using (query_id)
"""


# composed substring dedup: the dup_span oracle text verbatim as the
# span set, then positional cut + in-order rebuild
ORACLES["dup_span_cut_docs"] = f"""
with spans as (select * from ({ORACLES["dup_span_docs"]}) s0),
w as (select doc_id, {_WORDS} as ws from documents where text is not null),
t as (
    select doc_id, cast(i as bigint) as pos, ws[i] as w
    from w, unnest(generate_series(1, len(ws))) as tt(i)
),
flag as (
    select t.doc_id, t.pos, t.w, count(s.span_start) > 0 as cut
    from t left join spans s
      on s.doc_id = t.doc_id and t.pos between s.span_start and s.span_end
    group by t.doc_id, t.pos, t.w
)
select doc_id,
       coalesce(string_agg(w, ' ' order by pos) filter (where not cut), '')
         as text_clean,
       cast(count(*) as bigint) as n_words,
       cast(sum(case when cut then 1 else 0 end) as bigint) as n_removed
from flag group by doc_id
"""


# index APPEND lifecycle: centroids seeded from the vec_id%20<>0
# corpus only; batch rows assigned by the same argmax rule (append ==
# what a rebuild would assign), searched against corpus+batch
ORACLES["ann_ivf_index_append_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), cents as (
    select vec_id as cell, e as ce, vn as cn
    from v where vec_id % 20 <> 0 order by vec_id limit 16
), rk as (
    select v.vec_id as id, c.cell,
           {_dot_sql('v.e', 'c.ce')} / (v.vn * c.cn) as cos
    from v, cents c
), ranked as (
    select id, cell,
           row_number() over (partition by id order by round(cos, 6) desc, cell) as r
    from rk
), probes as (
    select id as query_id, cell from ranked
    where r <= 4 and id % 20 = 0
), assign as (
    select id, cell from ranked where r = 1
), scored as (
    select p.query_id, a.id as nbr_id,
           {_dot_sql('q.e', 'm.e')} / (q.vn * m.vn) as cosine
    from probes p
    join assign a using (cell)
    join v q on q.vec_id = p.query_id
    join v m on m.vec_id = a.id
    where p.query_id <> a.id
)
select query_id, nbr_id, round(cosine, 6) as cosine,
       cast(row_number() over (partition by query_id
                               order by round(cosine, 6) desc, nbr_id) as int) as rank
from scored
qualify rank <= 3
"""


# asymmetric containment pairs: same shingle machinery as the jaccard
# oracle; containment_a = shared/n_a (int/int division — bit-identical
# across engines)
ORACLES["containment_pairs_docs"] = f"""
with sh0 as (
    select doc_id as id, {_WORDS} as words from documents
), sh as (
    select id, case when len(words) >= 3 then {_SHINGLES} else [] end as shingles
    from sh0
), shn as (
    select id, shingles, len(shingles) as n_sh from sh where len(shingles) > 0
), f as (
    select id, unnest(shingles) as s from shn
), shared as (
    select a.id as id_a, b.id as id_b, count(*) as shared
    from f a join f b on a.s = b.s and a.id < b.id
    group by 1, 2
)
select s.id_a, s.id_b,
       s.shared / na.n_sh as containment_a,
       s.shared / nb.n_sh as containment_b
from shared s
join shn na on na.id = s.id_a
join shn nb on nb.id = s.id_b
where s.shared / na.n_sh >= 0.5 or s.shared / nb.n_sh >= 0.5
"""

ORACLES["range_join_events"] = """
with win as (
  select event_id as window_id,
         ts - interval '300 seconds' as wstart,
         ts + interval '300 seconds' as wend
  from events where event_id % 200 = 0
)
select w.window_id,
       count(*) as n_events,
       cast(sum(cast(round(e.value * 10000) as bigint)) as bigint) as value_e4
from events e
join win w on e.ts >= w.wstart and e.ts <= w.wend
group by 1
"""

# fastText-style hashed linear classifier (mirror of
# textstats.classifier_score, derived-weight path): bucket =
# md5('clf:'||word) first-15-hex % dim; weight = md5('w:'||bucket)
# first-15-hex % 2001 - 1000 micro-logits.
_CLF_BUCKET = _hex2int("substr(md5('clf:' || word), 1, 15)", digits=15)
_CLF_W = _hex2int("substr(md5('w:' || cast(bucket as varchar)), 1, 15)",
                  digits=15)
ORACLES["classifier_score_docs"] = f"""
with w as (
  select doc_id, unnest({_WORDS}) as word
  from documents where text is not null
), b as (
  select doc_id, ({_CLF_BUCKET}) % 256 as bucket from w
), s as (
  select doc_id, count(*) as n_words,
         sum((({_CLF_W}) % 2001) - 1000) as s
  from b group by doc_id
)
select doc_id,
       cast(n_words as bigint) as n_words,
       cast(floor(s / n_words) as bigint) as logit_e6,
       case when floor(s / n_words) > 0 then 'keep' else 'drop' end as label
from s where n_words > 0
"""

# Count-min sketch heavy hitters (mirror of sketches.cms_build/
# cms_estimate/cms_heavy_hitters): position of value v in sketch row j
# is first-15-hex(md5('cms{j}:{v}')) % width; estimate = min_j counter.
_CMS_POS = _hex2int(
    "substr(md5('cms' || cast(j as varchar) || ':' || word), 1, 15)",
    digits=15,
)
ORACLES["cms_heavy_words"] = f"""
with w as (
  select unnest({_WORDS}) as word
  from documents where text is not null
), rows_j as (
  select unnest(range(4)) as j
), cells as (
  select j, ({_CMS_POS}) % 1024 as pos
  from w cross join rows_j
), sketch as (
  select j, pos, count(*) as cnt from cells group by 1, 2
), items as (
  select distinct word from w
), probes as (
  select word, j, ({_CMS_POS}) % 1024 as pos
  from items cross join rows_j
), est as (
  select p.word, min(s.cnt) as est_cnt
  from probes p join sketch s on s.j = p.j and s.pos = p.pos
  group by 1
)
select word, cast(est_cnt as bigint) as est_cnt
from est where est_cnt >= 500
"""


def _l2sq_sql(a: str, b: str) -> str:
    """Ordered squared-L2 fold of two DOUBLE[] columns (bit-exact mirror
    of operators.similarity._l2sq)."""
    return (f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")


# Product quantization (mirror of similarity.pq_codebook/pq_encode/
# pq_search): codebook seeds = 16 lowest-vec_id vectors, code j = seed
# rank j; subspace s of a 64-dim vector covers elements 16s+1..16s+16.
_PQ_COMMON = f"""
with v0 as (
    -- NULL vectors excluded: mirrors the operators' entry filter
    select vec_id, embedding::DOUBLE[] as e from embeddings
    where embedding is not null
      and list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), subs as (
    select unnest(range(4)) as sub
), seeds as (
    select row_number() over (order by vec_id) - 1 as code, e
    from (select * from v0 order by vec_id limit 16)
), cb as (
    select s.sub, seeds.code,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> seeds.e[i]) as cvec
    from seeds cross join subs s
), sv as (
    select v.vec_id, s.sub,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> v.e[i]) as svec
    from v0 v cross join subs s
), d as (
    select sv.vec_id, sv.sub, cb.code, {_l2sq_sql('sv.svec', 'cb.cvec')} as d
    from sv join cb on cb.sub = sv.sub
), enc as (
    select vec_id, sub, code,
           row_number() over (partition by vec_id, sub
                              order by d, code) as r
    from d
)
"""

ORACLES["pq_encode_embeddings"] = _PQ_COMMON + """
select vec_id, cast(sub as int) as sub, cast(code as int) as code
from enc where r = 1
"""

ORACLES["pq_search_embeddings"] = _PQ_COMMON + f"""
, codes as (
    select vec_id, sub, code from enc where r = 1
), qsub as (
    select v.vec_id as query_id, s.sub,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> v.e[i]) as svec
    from v0 v cross join subs s
    where v.vec_id % 50 = 0
), lut as (
    select q.query_id, cb.sub, cb.code,
           cast(round({_l2sq_sql('q.svec', 'cb.cvec')} * 1e6) as bigint)
               as d_e6
    from qsub q join cb on cb.sub = q.sub
), scored as (
    select l.query_id, c.vec_id as nbr_id, sum(l.d_e6) as dist_e6
    from codes c
    join lut l on l.sub = c.sub and l.code = c.code
    where l.query_id <> c.vec_id
    group by 1, 2
)
select query_id, nbr_id, cast(dist_e6 as bigint) as dist_e6,
       cast(row_number() over (partition by query_id
                               order by dist_e6, nbr_id) as int) as rank
from scored
qualify rank <= 3
"""

# Text canonicalization (mirror of textstats.normalize_text).  The 1:1
# char maps go through translate() — same delete-when-unmapped semantics
# in both engines; regex steps use e'' strings so newlines/tabs are
# actual characters (RE2 replacement strings have no \n escape).
# explicit \u escapes -- a literal NBSP here was silently mangled to a
# plain space, so the oracle left NBSP untouched while the operator
# translated it (r6 unicode fuzz finding); mirrors textstats._XLATE_*
_NORM_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0\u00ad".replace("'", "''")
_NORM_TO = "''\"\"-- ".replace("'", "''")
_NORM_EXPR = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    f"translate(replace(text, '…', '...'), '{_NORM_FROM}', '{_NORM_TO}'), "
    "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
    "e'[ \\t]+', ' ', 'g'), "
    "e' *\\n *', e'\\n', 'g'), "
    "e'\\n{3,}', e'\\n\\n', 'g'))"
)
ORACLES["normalize_text_docs"] = f"""
select doc_id,
       {_NORM_EXPR} as text_norm,
       cast(length(text) as bigint) as n_chars_before,
       cast(length({_NORM_EXPR}) as bigint) as n_chars_after
from documents where text is not null
"""

# Gram matrix X^T X in e8 fixed point (mirror of similarity.gram_matrix):
# each per-row (i, j) product term is floor(t*1e8 + 0.5) as bigint BEFORE
# the sum, so partial-aggregation order cannot change a single bit.
ORACLES["gram_matrix_embeddings"] = """
with v as (
  select embedding::DOUBLE[] as e from embeddings
  where embedding is not null
    and list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), ii as (
  select unnest(range(1, 65)) as i
), jj as (
  select unnest(range(1, 65)) as j
)
select cast(ii.i - 1 as int) as i,
       cast(jj.j - 1 as int) as j,
       cast(sum(cast(floor(v.e[ii.i] * v.e[jj.j] * 1e8 + 0.5) as bigint))
            as bigint) as gram_e8
from v cross join ii cross join jj
group by 1, 2
"""

# Funnel (mirror of sequence.funnel's greedy-earliest fold — equal by
# the exchange argument to this nested strictly-greater min form).
ORACLES["funnel_events"] = """
with base as (
  select distinct user_id from events
  where event_type in ('view', 'click', 'purchase') and ts is not null
    and user_id is not null
), s1 as (
  select user_id, min(ts) as t1 from events
  where event_type = 'view' group by 1
), s2 as (
  select e.user_id, min(e.ts) as t2
  from events e join s1 on s1.user_id = e.user_id
  where e.event_type = 'click' and e.ts > s1.t1 group by 1
), s3 as (
  select e.user_id, min(e.ts) as t3
  from events e join s2 on s2.user_id = e.user_id
  where e.event_type = 'purchase' and e.ts > s2.t2 group by 1
)
select b.user_id,
       cast(case when s3.t3 is not null then 3
                 when s2.t2 is not null then 2
                 when s1.t1 is not null then 1
                 else 0 end as int) as steps_completed,
       cast(epoch_us(s1.t1) as bigint) as t1_us,
       cast(epoch_us(s2.t2) as bigint) as t2_us,
       cast(epoch_us(s3.t3) as bigint) as t3_us
from base b
left join s1 on s1.user_id = b.user_id
left join s2 on s2.user_id = b.user_id
left join s3 on s3.user_id = b.user_id
"""

# Streaming stateful funnel (mirror of streaming/stateful.funnel_stream
# drained AvailableNow, first completion per user): greedy-earliest over
# a ts-sorted stream makes the first completion equal the batch
# nested-min form regardless of equal-ts processing order.
ORACLES["funnel_stream_events"] = """
with s1 as (
  select user_id, min(ts) as t1 from events
  where event_type = 'view' and ts is not null group by 1
), s2 as (
  select e.user_id, min(e.ts) as t2
  from events e join s1 on s1.user_id = e.user_id
  where e.event_type = 'click' and e.ts > s1.t1 group by 1
), s3 as (
  select e.user_id, min(e.ts) as t3
  from events e join s2 on s2.user_id = e.user_id
  where e.event_type = 'purchase' and e.ts > s2.t2 group by 1
)
select user_id, cast(epoch_us(t3) as bigint) as first_completed_us
from s3
"""

# Sparse JL random projection (mirror of similarity.random_projection):
# coefficient for (k, i) = +1/-1/0 as md5('jl:k:i') first-15-hex % 6 is
# 0/1/other.  SQL i runs 1..64 <-> operator i runs 0..63, hence i-1.
_JL_M = _hex2int(
    "substr(md5('jl:' || cast(k as varchar) || ':' "
    "|| cast(i - 1 as varchar)), 1, 15)",
    digits=15,
)
ORACLES["random_projection_embeddings"] = f"""
with v as (
  select vec_id, embedding::DOUBLE[] as e from embeddings
  -- NULLs pass through (NULL projections); non-finite vectors excluded
  -- whole (finite contract, r6 NaN/Inf fuzz)
  where embedding is null
     or list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double
), ks as (
  select unnest(range(16)) as k
)
select vec_id, cast(k as int) as k,
       cast(round(list_sum(list_transform(range(1, 65),
            i -> (case ({_JL_M}) % 6
                    when 0 then 1.0 when 1 then -1.0 else 0.0 end)
                 * e[i])) * 1e6) as bigint) as proj_e6
from v cross join ks
"""

# BPE application (mirror of corpus.bpe_token_counts with the gate's
# fixed merge list): the BOUNDARY-SAFE double-space representation
# (r10 fix, `corpus._bpe_merge_seq`) — tokens joined by TWO spaces,
# single-space wrapped, each merge rank one replace of ' a  b ' with
# ' ab '.  The old single-space replace('a b','ab') merged pairs
# matching INSIDE longer tokens ([xa, b] -> false 'xab'); the double
# separator leaves one flanking space per side so every
# non-overlapping occurrence merges in one pass, token-exact.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]
_BPE_CHAIN = "' ' || array_to_string(string_split(word, ''), '  ') || ' '"
for _a, _b in _BPE_MERGES:
    _BPE_CHAIN = f"replace({_BPE_CHAIN}, ' {_a}  {_b} ', ' {_a}{_b} ')"
ORACLES["bpe_token_counts_docs"] = f"""
with w as (
  select unnest({_WORDS}) as word
  from documents where text is not null
), vocab as (
  select word, count(*) as n_word from w group by 1
), toks as (
  select n_word, unnest(string_split(trim({_BPE_CHAIN}), '  ')) as token
  from vocab
)
select token, cast(sum(n_word) as bigint) as n
from toks group by 1
"""

# Streaming windowed CMS (mirror of streaming_cms + the hourly-rollup
# closed-window rule: windows whose end <= final watermark, watermark =
# ms-truncated max ts - 1 s).
_CMS_POS_ET = _hex2int(
    "substr(md5('cms' || cast(j as varchar) || ':' || event_type), 1, 15)",
    digits=15,
)
ORACLES["streaming_cms_events"] = f"""
with wm as (
    select (epoch_us(max(ts)) // 1000) * 1000 - 1000000 as wm_us from events
), rows_j as (
    select unnest(range(3)) as j
)
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as window_start,
       cast(j as int) as "row",
       cast(({_CMS_POS_ET}) % 64 as bigint) as pos,
       cast(count(*) as bigint) as cnt
from events, rows_j, wm
where event_type is not null
  and epoch_us(date_trunc('hour', ts) + interval 1 hour) <= wm.wm_us
group by 1, 2, 3
"""

# Z-order codes (mirror of layout.zorder_code: scale each column into
# [0, 256) against its global min/max with exact integer math, then
# Morton-interleave via div/mod — bit i of a at 2i, of b at 2i+1).
_Z_TERMS = " + ".join(
    f"(cast(floor(sa / {1 << i}) as bigint) % 2) * {1 << (2 * i)}"
    f" + (cast(floor(sb / {1 << i}) as bigint) % 2) * {1 << (2 * i + 1)}"
    for i in range(8)
)
ORACLES["zorder_orders"] = f"""
with o as (
  select o_orderkey, o_custkey,
         date_diff('day', DATE '1970-01-01', o_orderdate) as odays
  from orders
), mm as (
  select min(o_custkey) as amin, max(o_custkey) as amax,
         min(odays) as bmin, max(odays) as bmax
  from o
), s as (
  select o.o_orderkey,
         cast((o.o_custkey - mm.amin) * 256 // (mm.amax - mm.amin + 1)
              as bigint) as sa,
         cast((o.odays - mm.bmin) * 256 // (mm.bmax - mm.bmin + 1)
              as bigint) as sb
  from o, mm
)
select o_orderkey, cast({_Z_TERMS} as bigint) as zcode from s
"""

# KMV Jaccard between the two source halves' vocabularies (mirror of
# sketches.kmv_jaccard with the _hash_unit convention: first-15-hex of
# md5(word) + 1, over 16^15).
_KMV_H = _hex2int("substr(md5(word), 1, 15)", digits=15)
ORACLES["kmv_jaccard_sources"] = f"""
with w as (
  select source, unnest({_WORDS}) as word
  from documents where text is not null
), ha as (
  select distinct (cast({_KMV_H} as double) + 1.0) / 1152921504606846976.0 as h
  from w where length(source) <= 4
), hb as (
  select distinct (cast({_KMV_H} as double) + 1.0) / 1152921504606846976.0 as h
  from w where length(source) > 4
), ka as (
  select h from (select h, row_number() over (order by h) as rk from ha)
  where rk <= 256
), kb as (
  select h from (select h, row_number() over (order by h) as rk from hb)
  where rk <= 256
), u as (
  select h, max(ia) as ia, max(ib) as ib
  from (
    select h, 1 as ia, cast(null as int) as ib from ka
    union all
    select h, cast(null as int) as ia, 1 as ib from kb
  ) group by h
), topu as (
  select * from (select u.*, row_number() over (order by h) as rk from u)
  where rk <= 256
)
select cast(count(*) as bigint) as n_union_k,
       -- coalesce: empty corpora must report 0 common, not NULL (the
       -- operator's documented choice; gate-fuzz finding)
       cast(coalesce(sum(case when ia = 1 and ib = 1 then 1 else 0 end), 0)
            as bigint) as n_common,
       cast(sum(case when ia = 1 and ib = 1 then 1 else 0 end) as double)
           / nullif(count(*), 0) as jaccard_est
from topu
"""

# Integer-exact volume anomalies (mirror of sequence.count_anomalies:
# (cnt*n - s)^2 > z^2 * (ss*n - s^2) in 128-bit integers).
ORACLES["count_anomalies_events"] = """
with counts as (
  select event_type, date_trunc('hour', ts) as bucket,
         cast(count(*) as bigint) as cnt
  from events where ts is not null
  group by 1, 2
), stats as (
  select event_type, bucket, cnt,
         cast(count(*) over (partition by event_type) as hugeint) as n,
         cast(sum(cnt) over (partition by event_type) as hugeint) as s,
         cast(sum(cnt * cnt) over (partition by event_type) as hugeint) as ss
  from counts
)
select event_type,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') as bucket,
       cnt,
       (cast(cnt as hugeint) * n - s) * (cast(cnt as hugeint) * n - s)
         > 4 * (ss * n - s * s) as is_anomaly
from stats
"""

# Composed pipeline: normalize_text -> classifier_score(keep) — the
# same CTE fragments chained (norm text feeds _WORDS via the `text`
# alias).
ORACLES["pipeline_quality_docs"] = f"""
with norm as (
  select doc_id, {_NORM_EXPR} as text
  from documents where text is not null
), w as (
  select doc_id, unnest({_WORDS}) as word from norm
), b as (
  select doc_id, ({_CLF_BUCKET}) % 256 as bucket from w
), s as (
  select doc_id, count(*) as n_words,
         sum((({_CLF_W}) % 2001) - 1000) as s
  from b group by doc_id
)
select doc_id,
       cast(n_words as bigint) as n_words,
       cast(floor(s / n_words) as bigint) as logit_e6
from s
where n_words > 0 and floor(s / n_words) > 0
"""

# IVFADC (mirror of similarity.ivfpq_search): L2 assignment to the 16
# lowest-id coarse centroids (ties -> lower cell), residual vectors
# PQ-encoded against the 16 lowest-id residual seeds, per-(query,
# probed-cell) residual LUTs, e6 bigint ADC sums.
ORACLES["ivfpq_search_embeddings"] = f"""
with v0 as (
    -- NULL vectors excluded: mirrors the operators' entry filter
    select vec_id, embedding::DOUBLE[] as e from embeddings
    where embedding is not null
      and list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
), cents as (
    select row_number() over (order by vec_id) - 1 as cell, e as ce
    from (select * from v0 order by vec_id limit 16)
), ad as (
    select v.vec_id, c.cell, {_l2sq_sql('v.e', 'c.ce')} as d
    from v0 v cross join cents c
), assign as (
    select vec_id, cell from (
        select vec_id, cell,
               row_number() over (partition by vec_id order by d, cell) as r
        from ad
    ) where r = 1
), resid as (
    select a.vec_id, a.cell,
           list_transform(range(1, 65), i -> v.e[i] - c.ce[i]) as rv
    from assign a
    join v0 v using (vec_id)
    join cents c using (cell)
), subs as (
    select unnest(range(4)) as sub
), seeds as (
    select row_number() over (order by vec_id) - 1 as code, rv
    from (select * from resid order by vec_id limit 16)
), cb as (
    select s.sub, seeds.code,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> seeds.rv[i]) as cvec
    from seeds cross join subs s
), rsv as (
    select r.vec_id, s.sub,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> r.rv[i]) as svec
    from resid r cross join subs s
), encd as (
    select vec_id, sub, code from (
        select rsv.vec_id, rsv.sub, cb.code,
               row_number() over (partition by rsv.vec_id, rsv.sub
                   order by {_l2sq_sql('rsv.svec', 'cb.cvec')}, cb.code) as r
        from rsv join cb on cb.sub = rsv.sub
    ) where r = 1
), probes as (
    select vec_id as query_id, cell from (
        select vec_id, cell,
               row_number() over (partition by vec_id order by d, cell) as r
        from ad where vec_id % 50 = 0
    ) where r <= 4
), qres as (
    select p.query_id, p.cell,
           list_transform(range(1, 65), i -> v.e[i] - c.ce[i]) as qr
    from probes p
    join v0 v on v.vec_id = p.query_id
    join cents c using (cell)
), qsub as (
    select q.query_id, q.cell, s.sub,
           list_transform(range(s.sub * 16 + 1, s.sub * 16 + 17),
                          i -> q.qr[i]) as svec
    from qres q cross join subs s
), lut as (
    select q.query_id, q.cell, cb.sub, cb.code,
           cast(round({_l2sq_sql('q.svec', 'cb.cvec')} * 1e6) as bigint)
               as d_e6
    from qsub q join cb on cb.sub = q.sub
), cand as (
    select l.query_id, e.vec_id as nbr_id, sum(l.d_e6) as dist_e6
    from encd e
    join assign a on a.vec_id = e.vec_id
    join lut l on l.cell = a.cell and l.sub = e.sub and l.code = e.code
    where l.query_id <> e.vec_id
    group by 1, 2
)
select query_id, nbr_id, cast(dist_e6 as bigint) as dist_e6,
       cast(row_number() over (partition by query_id
                               order by dist_e6, nbr_id) as int) as rank
from cand
qualify rank <= 3
"""

# Nearest-neighbor resize over synthetic gradient PPMs (mirror of
# multimodal.resize_media on synth_media(pattern='gradient'): odd ids
# are (4+id%13)x(3+id%7) images with pixel (y, x) = (id+3x+7y)%256;
# target (ty, tx) samples source ((ty*h)//6, (tx*w)//8); even ids are
# WAVs and pass through with NULL dims).
ORACLES["multimodal_resize_ppm"] = """
with tgt as (
  select y.ty, x.tx
  from (select unnest(range(6)) as ty) y
  cross join (select unnest(range(8)) as tx) x
), odd as (
  select doc_id, 4 + doc_id % 13 as w, 3 + doc_id % 7 as h
  from documents where doc_id % 2 = 1
), sums as (
  select o.doc_id, o.w, o.h,
         3 * sum((o.doc_id + 3 * ((t.tx * o.w) // 8)
                  + 7 * ((t.ty * o.h) // 6)) % 256) as s
  from odd o cross join tgt t
  group by 1, 2, 3
)
select doc_id as media_id,
       cast(w as int) as src_width, cast(h as int) as src_height,
       cast(8 as int) as width, cast(6 as int) as height,
       cast(s as bigint) as sum_value,
       s / 144.0 as mean_value
from sums
union all
select doc_id as media_id,
       cast(null as int), cast(null as int), cast(null as int),
       cast(null as int), cast(null as bigint), cast(null as double)
from documents where doc_id % 2 = 0
"""

# FFT spectrogram of the synthetic square-wave WAVs (mirror of
# multimodal.wav_spectrogram on synth_media: even ids, amplitude
# 100+id%900, 8*(len(text)%50+1) alternating samples -> every 8-sample
# frame's rfft is a single Nyquist line of height amp*8).
ORACLES["wav_spectrogram_docs"] = """
with evens as (
  select doc_id, 100 + doc_id % 900 as amp,
         coalesce(length(text), 0) % 50 + 1 as nfr
  from documents where doc_id % 2 = 0
), b as (
  select unnest(range(5)) as bin
), fr as (
  select doc_id, amp, unnest(range(nfr)) as frame from evens
)
select fr.doc_id as media_id,
       cast(fr.frame as int) as frame,
       cast(b.bin as int) as bin,
       cast(case when b.bin = 4 then fr.amp * 8 else 0 end as bigint)
           as mag_round
from fr cross join b
"""

# Curriculum ordering (mirror of corpus.curriculum_order: threshold
# buckets, md5 shard, md5-ordered within-shard positions).
_CUR_SHARD = _hex2int(
    "substr(md5('cur0:' || cast(doc_id as varchar)), 1, 15)", digits=15)
ORACLES["curriculum_order_docs"] = f"""
with b as (
  select doc_id,
         cast((case when n_chars >= 200 then 1 else 0 end)
            + (case when n_chars >= 300 then 1 else 0 end)
            + (case when n_chars >= 400 then 1 else 0 end) as int) as bucket,
         cast(({_CUR_SHARD}) % 4 as int) as shard,
         md5('cur0:pos:' || cast(doc_id as varchar)) as poskey
  from documents
)
select doc_id, bucket, shard,
       cast(row_number() over (partition by bucket, shard
                               order by poskey, doc_id) - 1 as bigint) as pos
from b
"""

# Key-skew report (mirror of skew.skew_report).
ORACLES["skew_report_events"] = """
with counts as (
  select user_id, cast(count(*) as bigint) as cnt
  from events where user_id is not null group by 1
), t as (
  select sum(cnt) as total, count(*) as nkeys from counts
), ranked as (
  select c.user_id, c.cnt,
         row_number() over (order by c.cnt desc, c.user_id asc) as rank
  from counts c
)
select cast(r.rank as int) as rank, r.user_id, r.cnt,
       cast(floor(r.cnt * 1000000 / t.total) as bigint) as share_e6,
       cast(floor(r.cnt * t.nkeys * 10000 / t.total) as bigint) as skew_e4
from ranked r, t
where r.rank <= 10
"""

# PMI collocations (mirror of corpus.pmi_collocations: micro-nat floor
# of ln(c12*N/(c1*c2)) per pair type, rank by (pmi desc, w1, w2)).
ORACLES["pmi_collocations_docs"] = f"""
with w as (
    select doc_id, {_WORDS} as ws from documents where text is not null
), bg as (
    select ws[i - 1] as w1, ws[i] as w2
    from w, unnest(generate_series(2, len(ws))) as t(i)
    where len(ws) >= 2
), c12t as (
    select w1, w2, cast(count(*) as bigint) as c12
    from bg group by 1, 2
    having count(*) >= 5
), uni as (
    select word as wrd, cast(count(*) as bigint) as c
    from (select unnest(ws) as word from w) group by 1
), nt as (
    select sum(c) as n from uni
), scored as (
    select b.w1, b.w2, b.c12,
           cast(floor(ln(b.c12 * nt.n * 1.0 / (u1.c * u2.c)) * 1000000)
                as bigint) as pmi_micro
    from c12t b
    join uni u1 on u1.wrd = b.w1
    join uni u2 on u2.wrd = b.w2
    cross join nt
)
select w1, w2, c12, pmi_micro,
       cast(row_number() over (order by pmi_micro desc, w1, w2) as int)
           as rank
from scored
qualify rank <= 50
"""

# Sparse tf-idf cosine pairs (mirror of textstats.tfidf_cosine_pairs:
# idf = floor(ln(N/df)*1000) milli-nats per term; terms with df >
# 0.8*N dropped; bigint tf*idf dot products; one double division
# rounded to 6 dp, threshold applied on the rounded value).
ORACLES["tfidf_cosine_pairs_docs"] = f"""
with w as (
  select doc_id as id, unnest({_WORDS}) as term
  from documents where text is not null
), tf as (
  select id, term, cast(count(*) as bigint) as tf from w group by 1, 2
), nd as (
  select count(distinct id) as n from tf
), idf as (
  select t.term,
         cast(floor(ln(nd.n * 1.0 / count(distinct t.id)) * 1000) as bigint)
             as idf_milli
  from tf t, nd
  group by t.term, nd.n
  having count(distinct t.id) <= floor(nd.n * 0.8)
), wt as (
  select tf.id, tf.term, tf.tf * idf.idf_milli as w
  from tf join idf using (term)
), norms as (
  select id, sum(w * w) as nsq from wt group by 1
), dots as (
  select a.id as id_a, b.id as id_b, sum(a.w * b.w) as dot
  from wt a join wt b on a.term = b.term and a.id < b.id
  group by 1, 2
)
select * from (
  select d.id_a, d.id_b,
         -- floor-form rounding (class 17)
         floor(d.dot * 1.0 / (sqrt(na.nsq * 1.0) * sqrt(nb.nsq * 1.0))
               * 1000000 + 0.5) / 1000000.0
             as cosine
  from dots d
  join norms na on na.id = d.id_a
  join norms nb on nb.id = d.id_b
) where cosine >= 0.6
"""

# As-of with tolerance (mirror of asof_join tolerance=30 days: the
# matched order nulls when ots is more than 2592000 s before the event).
ORACLES["asof_tolerance_events"] = """
with r as (
    select o_custkey as user_id, o_orderdate as ots,
           max(o_orderkey) as last_order_key
    from orders group by 1, 2
)
select e.event_id, e.user_id, cast(epoch_us(e.ts) as bigint) as ts_us,
       case when r.ots::timestamp >= e.ts - interval '2592000 seconds'
            then r.last_order_key end as last_order_key
from events e
asof left join r on e.user_id = r.user_id and e.ts >= r.ots
"""

# Weekly cohort retention (mirror of sequence.cohort_retention: both
# engines truncate weeks to Monday; offsets are exact day-diffs / 7).
ORACLES["cohort_retention_events"] = """
with per as (
  select distinct user_id as u, cast(date_trunc('week', ts) as date) as p
  from events where ts is not null and user_id is not null
), cohorts as (
  select u, min(p) as cohort from per group by 1
)
select c.cohort,
       cast(date_diff('day', c.cohort, per.p) / 7 as int) as "offset",
       cast(count(distinct per.u) as bigint) as n_users
from per join cohorts c on c.u = per.u
group by 1, 2
"""

# Compaction end-to-end (mirror reads straight from the source parquet
# — the compacted rewrite must be byte-lossless).
ORACLES["engine_compaction"] = """
select o_orderpriority,
       cast(count(*) as bigint) as n,
       cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
           as price_e2
from orders
group by 1
"""

# Script detection (mirror of textstats.detect_script: per-block match
# counts; literal unicode range characters so RE2 and Java regex read
# the same pattern; dominant label ties resolve latin > cyrillic >
# greek > cjk > arabic, no script chars at all -> 'other').
_SCRIPTS_SQL = {
    "latin": "[A-Za-z]",
    "cyrillic": f"[{chr(0x0400)}-{chr(0x04FF)}]",
    "greek": f"[{chr(0x0370)}-{chr(0x03FF)}]",
    "cjk": f"[{chr(0x3040)}-{chr(0x30FF)}{chr(0x4E00)}-{chr(0x9FFF)}]",
    "arabic": f"[{chr(0x0600)}-{chr(0x06FF)}]",
    "digit": "[0-9]",
}
_SC_COUNTS = ",\n       ".join(
    f"cast(len(regexp_extract_all(text, '{pat}', 0)) as bigint) as n_{name}"
    for name, pat in _SCRIPTS_SQL.items()
)
ORACLES["detect_script_docs"] = f"""
with c as (
  select doc_id,
       {_SC_COUNTS}
  from documents where text is not null
), m as (
  select c.*,
         greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) as best
  from c
)
select doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit,
       case when best = 0 then 'other'
            when n_latin = best then 'latin'
            when n_cyrillic = best then 'cyrillic'
            when n_greek = best then 'greek'
            when n_cjk = best then 'cjk'
            else 'arabic' end as script
from m
"""

# Event transitions (mirror of sequence.event_transitions: lead over
# (user, ts, event_id), pair counts, floor(n*1e6/total) shares).
ORACLES["event_transitions_events"] = """
with nxt as (
  select event_type as cur,
         lead(event_type) over (partition by user_id
                                order by ts, event_id) as nxt
  from events where ts is not null
), counts as (
  select cur, nxt, cast(count(*) as bigint) as n
  from nxt where nxt is not null group by 1, 2
), totals as (
  select cur, sum(n) as tot from counts group by 1
)
select c.cur, c.nxt, c.n,
       cast(floor(c.n * 1000000 / t.tot) as bigint) as share_e6
from counts c join totals t on t.cur = c.cur
"""

# CMS merge == whole (mirror: merging the two half-corpus sketches must
# reproduce the whole-corpus heavy hitters exactly, so the oracle IS
# the whole-corpus computation).
ORACLES["cms_merge_halves"] = ORACLES["cms_heavy_words"]

# Contrastive triples (mirror of textstats.contrastive_pairs over
# chunk_documents(40, 10)): positive = next chunk of the same doc;
# negative = the lowest-id other doc in the anchor's md5 bucket
# (buckets = distinct anchor docs // 2) at the same chunk index.
_CTR_B = _hex2int(
    "substr(md5('cneg:' || cast(doc_id as varchar)), 1, 15)", digits=15)
ORACLES["contrastive_pairs_docs"] = f"""
with w as (
    select doc_id, {_WORDS} as words
    from documents where text is not null
), nz as (
    select doc_id, words from w where len(words) > 0
), s as (
    select doc_id, words,
           range(1, greatest(len(words) - 10, 1) + 1, 30) as starts
    from nz
), chunks as (
    select doc_id, cast(ch['idx'] as bigint) as chunk_idx,
           cast(ch['txt'] as varchar) as txt
    from (
        select doc_id,
               unnest(list_transform(range(1, len(starts) + 1),
                      i -> {{'idx': i - 1,
                            'txt': array_to_string(
                                words[starts[i]:starts[i]+39], ' ')}})) as ch
        from s
    )
), pos as (
    select a.doc_id, a.chunk_idx, a.txt as anchor, b.txt as positive
    from chunks a
    join chunks b on b.doc_id = a.doc_id and b.chunk_idx = a.chunk_idx + 1
), nb as (
    select greatest(1, count(distinct doc_id) // 2) as m from pos
), lb as (
    select p.*, ({_CTR_B}) % nb.m as b from pos p, nb
), neg as (
    select l.doc_id, l.chunk_idx, min(r.doc_id) as nd
    from lb l
    join lb r on r.b = l.b and r.chunk_idx = l.chunk_idx
             and r.doc_id <> l.doc_id
    group by 1, 2
), r2 as (
    select doc_id, chunk_idx, anchor,
           md5('cneg:r2:' || cast(doc_id as varchar)) as kk
    from pos
), cand1 as (
    select chunk_idx, arg_min(doc_id, kk) as d1, arg_min(anchor, kk) as a1
    from r2 group by 1
), cand2 as (
    select r.chunk_idx, arg_min(r.anchor, r.kk) as a2
    from r2 r join cand1 c on c.chunk_idx = r.chunk_idx
                          and r.doc_id <> c.d1
    group by 1
)
select l.doc_id, l.chunk_idx, l.anchor, l.positive,
       coalesce(
           cx.txt,
           case when c1.d1 <> l.doc_id then c1.a1 else c2.a2 end
       ) as negative
from lb l
left join neg n on n.doc_id = l.doc_id and n.chunk_idx = l.chunk_idx
left join chunks cx on cx.doc_id = n.nd and cx.chunk_idx = l.chunk_idx
left join cand1 c1 on c1.chunk_idx = l.chunk_idx
left join cand2 c2 on c2.chunk_idx = l.chunk_idx
"""

# Journey trigram paths (mirror of sequence.journey_paths n=3:
# two leads over (user, ts, event_id), '>'-joined, top-50 by
# (count desc, path)).
ORACLES["journey_paths_events"] = """
with runs as (
  select event_type as e0,
         lead(event_type, 1) over w as e1,
         lead(event_type, 2) over w as e2
  from events where ts is not null
  window w as (partition by user_id order by ts, event_id)
), paths as (
  select e0 || '>' || e1 || '>' || e2 as path,
         cast(count(*) as bigint) as npath
  from runs where e2 is not null
  group by 1
)
select path, npath,
       cast(row_number() over (order by npath desc, path) as int) as rank
from paths
qualify rank <= 50
"""

# Lexical diversity (mirror of textstats.lexical_stats: e6 integer
# ratios; entropy from per-type micro-nat floors of ln(c/n)).
ORACLES["lexical_stats_docs"] = f"""
with w as (
  select doc_id, unnest({_WORDS}) as word
  from documents where text is not null
), wc as (
  select doc_id, word, cast(count(*) as bigint) as c from w group by 1, 2
), tot as (
  select doc_id, sum(c) as n from wc group by 1
), lp as (
  select wc.doc_id, wc.c,
         cast(floor(ln(wc.c * 1.0 / tot.n) * 1000000) as bigint) as lp
  from wc join tot using (doc_id)
), agg as (
  select l.doc_id,
         max(t.n) as n_words,
         cast(count(*) as bigint) as n_types,
         cast(sum(case when l.c = 1 then 1 else 0 end) as bigint) as n_hapax,
         sum(l.c * l.lp) as slp
  from lp l join tot t using (doc_id)
  group by 1
)
select doc_id,
       cast(n_words as bigint) as n_words,
       n_types, n_hapax,
       cast(floor(n_types * 1000000 / n_words) as bigint) as ttr_e6,
       cast(floor(n_hapax * 1000000 / n_types) as bigint) as hapax_e6,
       cast(floor(-slp * 1.0 / n_words) as bigint) as entropy_micro
from agg
"""

# Inter-arrival stats (mirror of sequence.interarrival_stats: exact
# microsecond gaps from a lag window; sum of squares in 128-bit,
# emitted as a decimal string on both engines).
ORACLES["interarrival_stats_events"] = """
with g as (
  select user_id,
         epoch_us(ts) - epoch_us(lag(ts) over (partition by user_id
                                               order by ts, event_id)) as gap
  from events where ts is not null
)
select user_id,
       cast(count(*) as bigint) as n_gaps,
       cast(floor(sum(gap) * 1.0 / count(*)) as bigint) as mean_gap_us,
       cast(min(gap) as bigint) as min_gap_us,
       cast(max(gap) as bigint) as max_gap_us,
       cast(sum(gap) as bigint) as sum_gap_us,
       cast(sum(cast(gap as hugeint) * gap) as varchar) as sum_gap_sq
from g where gap is not null
group by 1
"""


# -- integer-exact k-means (mirror of operators.clustering.kmeans_fixed:
#    e4 bigint quantization, k lowest-vec_id init, argmin ties -> lower
#    cell, truncating-division centroid update (DuckDB // == Spark div),
#    empty cells keep previous centroid) --
_KM_D2 = (
    "cast(list_sum(list_transform(range(1, len(b.vq) + 1), "
    "i -> (b.vq[i] - c.cv[i]) * (b.vq[i] - c.cv[i]))) as bigint)"
)


def _kmeans_cte(k: int = 4, iters: int = 2, where: str = "") -> str:
    """WITH-chain replaying the Lloyd loop (optionally over a filtered
    training corpus); ends in CTE ``asg`` = (vec_id, cluster,
    dist2_e8), all exact bigint arithmetic."""
    d2 = _KM_D2
    # NULL embeddings excluded at entry — mirrors clustering._quantize
    # (contract pinned per the r5 ADVICE; NULL-distance tie ordering
    # would otherwise diverge between engines)
    nn = ("where embedding is not null and "
          "list_max(list_transform(embedding, x -> abs(cast(x as double))))"
          " < 'infinity'::double")  # finite contract (r6 NaN/Inf fuzz)
    nn += f" and ({where[len('where '):]})" if where else ""
    parts = [
        f"""base as (
  select vec_id,
         list_transform(embedding,
           x -> cast(round(cast(x as double) * 10000) as bigint)) as vq
  from embeddings {nn}
), c0 as (
  select cast(row_number() over (order by vec_id) - 1 as bigint) as cell,
         vq as cv
  from (select vec_id, vq from base order by vec_id limit {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} as (
  select vec_id, vq, cell,
         row_number() over (partition by vec_id order by d2, cell) as rn
  from (select b.vec_id, b.vq, c.cell, {d2} as d2
        from base b cross join c{i - 1} c) t
), s{i} as (
  select cell, u.s.pos as pos, sum(u.s.val) as sm, count(*) as cnt
  from (select cell,
               unnest(list_transform(range(1, len(vq) + 1),
                      i -> {{'pos': i, 'val': vq[i]}})) as s
        from a{i} where rn = 1) u
  group by 1, 2
), c{i} as (
  select p.cell, coalesce(n.cv, p.cv) as cv
  from c{i - 1} p
  left join (select cell,
                    list(cast(sm // cnt as bigint) order by pos) as cv
             from s{i} group by cell) n
    on p.cell = n.cell
)"""
        )
    parts.append(
        f"""af as (
  select vec_id, cell, d2,
         row_number() over (partition by vec_id order by d2, cell) as rn
  from (select b.vec_id, c.cell, {d2} as d2
        from base b cross join c{iters} c) t
), asg as (
  select vec_id, cell as cluster, d2 as dist2_e8 from af where rn = 1
)"""
    )
    return "with " + ",\n".join(parts)


ORACLES["kmeans_embeddings"] = (
    _kmeans_cte(k=4, iters=2)
    + "\nselect vec_id, cluster, dist2_e8 from asg"
)

ORACLES["cluster_curation_embeddings"] = (
    _kmeans_cte(k=4, iters=2)
    + """,
r as (
  select vec_id, cluster, dist2_e8,
         md5('cs1' || cast(vec_id as varchar)) as sk
  from asg
),
samp as (
  select vec_id, cluster, 'sample' as tag, rk
  from (select vec_id, cluster,
               cast(row_number() over (partition by cluster
                                       order by sk, vec_id) as int) as rk
        from r) t
  where rk <= 25
),
outl as (
  select vec_id, cluster, 'outlier' as tag, rk
  from (select vec_id, cluster,
               cast(row_number() over (partition by cluster
                                       order by dist2_e8 desc,
                                                vec_id) as int) as rk
        from r) t
  where rk <= 10
)
select * from samp union all select * from outl
"""
)


# Train-once / assign-forever: centroids trained on the 95% standing
# corpus (vec_id % 20 <> 0), the held-out ingest batch assigned against
# the persisted model (mirror of clustering.kmeans_centroids +
# kmeans_apply; the unreferenced af/asg CTEs are dead code DuckDB
# never executes).
ORACLES["kmeans_incremental_embeddings"] = (
    _kmeans_cte(k=4, iters=2, where="where vec_id % 20 <> 0")
    + f""",
bq as (
  select vec_id,
         list_transform(embedding,
           x -> cast(round(cast(x as double) * 10000) as bigint)) as vq
  from embeddings where vec_id % 20 = 0 and embedding is not null
    and list_max(list_transform(embedding, x -> abs(cast(x as double)))) < 'infinity'::double  -- finite contract (r6 NaN/Inf fuzz)
),
bf as (
  select vec_id, cell, d2,
         row_number() over (partition by vec_id order by d2, cell) as rn
  from (select b.vec_id, c.cell, {_KM_D2} as d2
        from bq b cross join c2 c) t
)
select vec_id, cell as cluster, d2 as dist2_e8 from bf where rn = 1
"""
)


# ---------------------------------------------------------------------------
# Retrieval tier: BM25 ranking and Bloom-filtered decontamination.
# ---------------------------------------------------------------------------

ORACLES["bm25_rank_docs"] = f"""
with w as (select doc_id as id, unnest({_WORDS}) as term
           from documents where text is not null),
tf as (select id, term, cast(count(*) as bigint) as tf from w group by 1, 2),
dl as (select id, cast(sum(tf) as bigint) as dl from tf group by 1),
st as (select cast(count(*) as bigint) as n,
              cast(sum(dl) as bigint) as total from dl),
idf as (select term, cast(floor(ln(1.0 + (cast(st.n as double) - df_t + 0.5)
                 / (df_t + 0.5)) * 1000) as bigint) as idf_milli
        from (select term, cast(count(distinct id) as bigint) as df_t
              from tf group by 1) d, st),
qt as (select distinct doc_id as query_id, unnest({_WORDS}) as term
       from documents where doc_id % 13 = 0 and text is not null),
sc as (select q.query_id, p.id,
              cast(sum(cast(floor(cast(idf_milli as double)
                  * (44.0 * tf * total)
                  / (20.0 * tf * total + 6.0 * total + 18.0 * dl * n)
                  * 1000.0) as bigint)) as bigint) as score_micro
       from qt q join tf p using (term) join idf using (term)
       join dl on dl.id = p.id, st group by 1, 2)
select query_id, id as doc_id, score_micro,
       cast(row_number() over (partition by query_id
            order by score_micro desc, id) as int) as rank
from sc qualify rank <= 5
"""

# decontaminate_bloom is bit-identical to exact decontaminate by
# construction (the confirm join kills every false positive), so its
# oracle IS the decontaminate oracle with the same probe split
# the gate function will use (probes = doc_id % 7 = 0).
ORACLES["decontaminate_bloom_docs"] = f"""
with corpus as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(w) - 3, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4]))) as shingle
    from (select doc_id, {_WORDS} as w from documents) t
    where len(w) >= 5
),
probe as (
    select distinct unnest(list_distinct(
        list_transform(range(1, greatest(len(w) - 3, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4]))) as shingle
    from (select doc_id, {_WORDS} as w from documents
          where doc_id % 7 = 0) t
    where len(w) >= 5
)
select c.doc_id, cast(count(*) as bigint) as n_hits,
       min(c.shingle) as sample_hit
from corpus c join probe p using (shingle)
group by 1
"""


# ---------------------------------------------------------------------------
# Retrieval and perceptron depth: hybrid BM25+dense fusion, incremental
# index append, streaming decontamination, and the binary perceptron.
# ---------------------------------------------------------------------------
ORACLES["hybrid_retrieval_docs"] = f"""
with w as (select doc_id as id, unnest({_WORDS}) as term
           from documents where text is not null),
tf as (select id, term, cast(count(*) as bigint) as tf from w group by 1, 2),
dl as (select id, cast(sum(tf) as bigint) as dl from tf group by 1),
st as (select cast(count(*) as bigint) as n,
              cast(sum(dl) as bigint) as total from dl),
idf as (select term, cast(floor(ln(1.0 + (cast(st.n as double) - df_t + 0.5)
                 / (df_t + 0.5)) * 1000) as bigint) as idf_milli
        from (select term, cast(count(distinct id) as bigint) as df_t
              from tf group by 1) d, st),
qt as (select distinct doc_id as query_id, unnest({_WORDS}) as term
       from documents where doc_id % 29 = 0 and text is not null),
sc as (select q.query_id, p.id,
              cast(sum(cast(floor(cast(idf_milli as double)
                  * (44.0 * tf * total)
                  / (20.0 * tf * total + 6.0 * total + 18.0 * dl * n)
                  * 1000.0) as bigint)) as bigint) as score_micro
       from qt q join tf p using (term) join idf using (term)
       join dl on dl.id = p.id, st group by 1, 2),
lex as (select query_id, id as doc_id,
               cast(row_number() over (partition by query_id
                    order by score_micro desc, id) as int) as rank
        from sc qualify rank <= 5),
v as (select vec_id, embedding::DOUBLE[] as e from embeddings
      where list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
        and list_sum(list_transform(embedding::DOUBLE[], x -> x * x))
            < 'infinity'::double),
cp as (select a.vec_id as qid, b.vec_id as did,
              list_sum(list_transform(range(1, len(a.e) + 1),
                  i -> a.e[i] * b.e[i]))
              / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1),
                      i -> a.e[i] * a.e[i])))
                 * sqrt(list_sum(list_transform(range(1, len(b.e) + 1),
                        i -> b.e[i] * b.e[i])))) as cosine
       from v a join v b on a.vec_id <> b.vec_id
       where a.vec_id % 29 = 0),
dense as (select qid as query_id, did as doc_id,
                 cast(row_number() over (partition by qid
                      order by cosine desc, did) as int) as rank
          from cp qualify rank <= 5),
uni as (
    select query_id, doc_id,
           cast(floor(1000000000.0 / (60 + rank)) as bigint) as c from lex
    union all
    select query_id, doc_id,
           cast(floor(1000000000.0 / (60 + rank)) as bigint) as c from dense
),
fused as (select query_id, doc_id, cast(sum(c) as bigint) as rrf_nano
          from uni group by 1, 2)
select query_id, doc_id, rrf_nano,
       cast(row_number() over (partition by query_id
            order by rrf_nano desc, doc_id) as int) as rank
from fused qualify rank <= 5
"""

# append ≡ rebuild: the append gate serves the standard query
# workload from an index that absorbed an ingest batch incrementally,
# so its oracle IS the one-shot BM25 over the full corpus (same SQL as
# bm25_rank_docs) — any divergence in merged postings, refreshed idf,
# or constants surfaces as a score/rank mismatch.
ORACLES["bm25_index_append_docs"] = ORACLES["bm25_rank_docs"]


# ingest-time decontamination: the streaming leg is stateless, so its
# AvailableNow drain equals the batch 5-gram match pairs regardless of
# micro-batch split — the oracle is the plain corpus×probe shingle join
# at match granularity (batch decontaminate's pre-aggregation rows).
ORACLES["streaming_decontaminate_docs"] = f"""
with sh as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(w) - 3, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4]))) as shingle
    from (select doc_id, {_WORDS} as w from documents) t
    where len(w) >= 5
),
probe as (select distinct shingle from sh where doc_id % 11 = 0)
select s.doc_id, s.shingle from sh s join probe p using (shingle)
"""


def _perceptron_sql(dim: int = 64, epochs: int = 3,
                    label: str = "case when lang = 'en' then 1 else -1 end",
                    averaged: bool = False) -> str:
    """Replay of the full batch-perceptron training loop + the serving
    pass in one DuckDB query (the kmeans replayed-training precedent):
    epoch 1 updates on every doc (w=0 ⇒ y·dot<=0 everywhere), later
    epochs left-join the previous weight table (absent bucket ≡ 0),
    and early Spark-side convergence is equivalent because an empty
    misclassified set contributes an empty delta (w_e = w_{e-1}).  The
    apply join is inner: a bucket absent from the weight table carries
    implicit weight 0 and contributes nothing either way, and every
    doc keeps its bias-bucket row."""
    bucket = _hex2int("substr(md5('clf:' || word), 1, 15)", digits=15)
    parts = [f"""
with wds as (
  select doc_id, cast({label} as bigint) as y, unnest({_WORDS}) as word
  from documents where text is not null
),
f0 as (
  select doc_id, y, ({bucket}) % {dim} as bucket,
         cast(count(*) as bigint) as cnt
  from wds group by 1, 2, 3
  union all
  select doc_id, cast({label} as bigint) as y,
         cast({dim} as bigint) as bucket, cast(1 as bigint) as cnt
  from documents where text is not null
),
w1 as (
  select bucket, cast(sum(y * cnt) as bigint) as w from f0 group by 1
)"""]
    for e in range(2, epochs + 1):
        parts.append(f""",
dot{e} as (
  select f.doc_id, f.y, sum(f.cnt * coalesce(w.w, 0)) as dot
  from f0 f left join w{e - 1} w using (bucket) group by 1, 2
),
d{e} as (
  select bucket, cast(sum(y * cnt) as bigint) as d from f0
  where doc_id in (select doc_id from dot{e} where y * dot <= 0)
  group by 1
),
w{e} as (
  select coalesce(w.bucket, d.bucket) as bucket,
         cast(coalesce(w.w, 0) + coalesce(d.d, 0) as bigint) as w
  from w{e - 1} w full outer join d{e} d on w.bucket = d.bucket
)""")
    if averaged:
        # averaged perceptron: served weights are the SUM of the
        # per-epoch snapshots w_1..w_E (sign-equivalent to the mean —
        # no division, stays bigint); a converged epoch's w_e equals
        # w_{e-1}, so summing every CTE matches the operator's
        # early-exit accounting exactly
        union = " union all ".join(
            f"select * from w{e}" for e in range(1, epochs + 1))
        parts.append(f""",
wavg as (
  select bucket, cast(sum(w) as bigint) as w
  from ({union}) u group by 1
)""")
    serve = "wavg" if averaged else f"w{epochs}"
    parts.append(f""",
af as (
  select doc_id, ({bucket}) % {dim} as bucket,
         cast(count(*) as bigint) as cnt
  from (select doc_id, unnest({_WORDS}) as word
        from documents where text is not null) t
  group by 1, 2
  union all
  select doc_id, cast({dim} as bigint) as bucket, cast(1 as bigint) as cnt
  from documents where text is not null
)
select a.doc_id,
       cast(sum(a.cnt * w.w) as bigint) as score,
       cast(case when sum(a.cnt * w.w) > 0 then 1 else -1 end as int) as pred
from af a join {serve} w using (bucket)
group by a.doc_id""")
    return "".join(parts)


# in-engine classifier training: the gate replays all 3 perceptron
# epochs and the serving pass in SQL — any divergence in feature
# hashing, the y·dot<=0 rule, or the batch update surfaces as a
# score/pred mismatch.
ORACLES["perceptron_language_docs"] = _perceptron_sql(
    dim=64, epochs=3)


def _perceptron_ovr_sql(dim: int = 64, epochs: int = 3,
                        classes: tuple[str, ...] = ("de", "en", "es",
                                                    "fr", "zh")) -> str:
    """One-vs-rest replay: the binary _perceptron_sql training chain
    duplicated per class over a SHARED feature CTE (f0 carries the raw
    class value; each class's y is case when cls='<c>' then 1 else -1,
    NULL class ≡ negative — the Spark trainer's rule), then an argmax
    serve with ties broken by class name ascending.  The per-class
    weight CTEs only hold training-SEEN buckets; absent buckets carry
    implicit weight 0 and every doc keeps its bias-bucket row, so the
    inner serving join is lossless (the binary oracle's argument)."""
    bucket = _hex2int("substr(md5('clf:' || word), 1, 15)", digits=15)
    parts = [f"""
with wds as (
  select doc_id, lang as cls, unnest({_WORDS}) as word
  from documents where text is not null
),
f0 as (
  select doc_id, cls, ({bucket}) % {dim} as bucket,
         cast(count(*) as bigint) as cnt
  from wds group by 1, 2, 3
  union all
  select doc_id, lang as cls, cast({dim} as bigint) as bucket,
         cast(1 as bigint) as cnt
  from documents where text is not null
)"""]
    for ci, c in enumerate(classes):
        y = f"(case when cls = '{c}' then 1 else -1 end)"
        parts.append(f""",
w1_{ci} as (
  select bucket, cast(sum({y} * cnt) as bigint) as w from f0 group by 1
)""")
        for e in range(2, epochs + 1):
            parts.append(f""",
dot{e}_{ci} as (
  select f.doc_id, max({y}) as y, sum(f.cnt * coalesce(w.w, 0)) as dot
  from f0 f left join w{e - 1}_{ci} w using (bucket) group by 1
),
d{e}_{ci} as (
  select bucket, cast(sum({y} * cnt) as bigint) as d from f0
  where doc_id in (select doc_id from dot{e}_{ci} where y * dot <= 0)
  group by 1
),
w{e}_{ci} as (
  select coalesce(w.bucket, d.bucket) as bucket,
         cast(coalesce(w.w, 0) + coalesce(d.d, 0) as bigint) as w
  from w{e - 1}_{ci} w full outer join d{e}_{ci} d on w.bucket = d.bucket
)""")
    parts.append(f""",
af as (
  select doc_id, ({bucket}) % {dim} as bucket,
         cast(count(*) as bigint) as cnt
  from (select doc_id, unnest({_WORDS}) as word
        from documents where text is not null) t
  group by 1, 2
  union all
  select doc_id, cast({dim} as bigint) as bucket, cast(1 as bigint) as cnt
  from documents where text is not null
),
sc as (""")
    legs = []
    for ci, c in enumerate(classes):
        legs.append(f"""
  select a.doc_id, '{c}' as cls, cast(sum(a.cnt * w.w) as bigint) as score
  from af a join w{epochs}_{ci} w using (bucket)
  group by 1""")
    parts.append("  union all".join(legs))
    parts.append("""
)
select doc_id, cls as label, score
from (select doc_id, cls, score,
             row_number() over (partition by doc_id
                                order by score desc, cls asc) as rn
      from sc) ranked
where rn = 1""")
    return "".join(parts)


# r8 perceptron-family depth (r7 verdict item 5): multi-class one-vs-
# rest training — the gate replays all
# five per-class training loops and the argmax routing in SQL.
ORACLES["perceptron_ovr_language_docs"] = _perceptron_ovr_sql(
    dim=64, epochs=3)


# r8 decontamination-family depth: span-level decontamination — detect
# probe 5-gram spans in the training corpus, cut them, keep the docs.
# Replays grams → probe membership →
# gaps-and-islands merge → positional cut (the dup_span_docs +
# dup_span_cut_docs oracle machinery with probe membership in place of
# the global dup count).
ORACLES["decontaminate_cut_docs"] = f"""
with w as (select doc_id, {_WORDS} as ws from documents
           where text is not null and doc_id % 11 <> 0),
g as (
    select doc_id, cast(i as bigint) as start,
           md5(array_to_string(ws[i:i+4], ' ')) as gh
    from w, unnest(generate_series(1, len(ws) - 4)) as t(i)
    where len(ws) >= 5
),
pw as (select {_WORDS} as ws from documents
       where text is not null and doc_id % 11 = 0),
ps as (
    select distinct md5(array_to_string(ws[i:i+4], ' ')) as gh
    from pw, unnest(generate_series(1, len(ws) - 4)) as t(i)
    where len(ws) >= 5
),
h as (select g.doc_id, g.start, g.start + 4 as e from g join ps using (gh)),
m as (select doc_id, start, e,
        max(e) over (partition by doc_id order by start
                     rows between unbounded preceding and 1 preceding) as pme
      from h),
i as (select doc_id, start, e,
        sum(case when pme is null or start > pme + 1 then 1 else 0 end)
          over (partition by doc_id order by start
                rows between unbounded preceding and current row) as island
      from m),
spans as (select doc_id, min(start) as span_start, max(e) as span_end
          from i group by doc_id, island),
t as (
    select doc_id, cast(i as bigint) as pos, ws[i] as w
    from w, unnest(generate_series(1, len(ws))) as tt(i)
),
flag as (
    select t.doc_id, t.pos, t.w, count(s.span_start) > 0 as cut
    from t left join spans s
      on s.doc_id = t.doc_id and t.pos between s.span_start and s.span_end
    group by t.doc_id, t.pos, t.w
)
select doc_id,
       coalesce(string_agg(w, ' ' order by pos) filter (where not cut), '')
         as text_clean,
       cast(count(*) as bigint) as n_words,
       cast(sum(case when cut then 1 else 0 end) as bigint) as n_removed
from flag group by doc_id
"""


# r8 dataset-versioning verb: snapshot diff by content fingerprint —
# hash per side BEFORE the full-outer join, NULL text marked distinct
# from empty.
ORACLES["corpus_diff_docs"] = """
with o as (
  select doc_id as id,
         case when text is null then '<null>' else md5(text) end as old_md5
  from documents where doc_id % 17 <> 3
),
n as (
  select doc_id as id,
         case when text is null then '<null>'
              when doc_id % 13 = 0 then md5(text || ' v2')
              else md5(text) end as new_md5
  from documents where doc_id % 17 <> 5
)
select coalesce(o.id, n.id) as doc_id,
       case when o.old_md5 is null then 'added'
            when n.new_md5 is null then 'removed'
            when o.old_md5 = n.new_md5 then 'unchanged'
            else 'changed' end as status,
       o.old_md5, n.new_md5
from o full outer join n on o.id = n.id
"""

# r8 degenerate-repetition (model-loop) detection: deterministic loops
# injected (%19 docs get their first four normalized words prepended
# three times), then maximal stride-4 equal-gram runs via a
# per-(doc, phase) lag window and gaps-and-islands.
ORACLES["ngram_loops_docs"] = f"""
with base as (
  select doc_id,
         case when doc_id % 19 = 0 and text is not null then
           array_to_string(({_WORDS})[1:4], ' ') || ' ' ||
           array_to_string(({_WORDS})[1:4], ' ') || ' ' ||
           array_to_string(({_WORDS})[1:4], ' ') || ' ' || text
         else text end as text
  from documents
),
w as (select doc_id, {_WORDS} as ws from base where text is not null),
g as (
  select doc_id, cast(i as bigint) as start,
         array_to_string(ws[i:i+3], ' ') as gram,
         cast(i % 4 as int) as phase
  from w, unnest(generate_series(1, len(ws) - 3)) as t(i)
  where len(ws) >= 4
),
c as (
  select doc_id, start, gram, phase,
         lag(start) over (partition by doc_id, phase order by start) as pstart,
         lag(gram) over (partition by doc_id, phase order by start) as pgram
  from g
),
r as (
  select doc_id, start, gram, phase,
         sum(case when pstart is null or start <> pstart + 4
                    or gram is distinct from pgram
                  then 1 else 0 end)
           over (partition by doc_id, phase order by start
                 rows between unbounded preceding and current row) as run
  from c
)
select doc_id, min(gram) as gram, min(start) as run_start,
       cast(count(*) as bigint) as repeats,
       cast(min(start) + count(*) * 4 - 1 as bigint) as span_end
from r group by doc_id, phase, run
having count(*) >= 3
"""


# r8 drift monitoring: per-term KL(new‖old) contributions in micro-nats
# between the corpus_diff snapshots.  The double expression mirrors the
# Spark operator's association exactly (double casts of exact integer
# counts, one multiply per side, one divide, one ln, one final product
# floored) so identical doubles floor identically.
ORACLES["vocab_drift_docs"] = f"""
with osrc as (select text from documents
              where doc_id % 17 <> 3 and text is not null),
ow as (select unnest({_WORDS}) as term from osrc),
oc as (select term, cast(count(*) as bigint) as n_old from ow group by 1),
nsrc as (
  select case when doc_id % 13 = 0 then text || ' v2' else text end as text
  from documents where doc_id % 17 <> 5 and text is not null
),
nw as (select unnest({_WORDS}) as term from nsrc),
nc as (select term, cast(count(*) as bigint) as n_new from nw group by 1),
v as (
  select coalesce(oc.term, nc.term) as term,
         coalesce(n_old, 0) as n_old, coalesce(n_new, 0) as n_new
  from oc full outer join nc on oc.term = nc.term
),
t as (select cast(sum(n_old) as bigint) as t_old,
             cast(sum(n_new) as bigint) as t_new,
             cast(count(*) as bigint) as vsz from v),
s as (
  select term, n_old, n_new,
         cast(floor(
           (cast(n_new + 1 as double) / cast(t.t_new + t.vsz as double))
           * ln((cast(n_new + 1 as double) * cast(t.t_old + t.vsz as double))
                / (cast(n_old + 1 as double) * cast(t.t_new + t.vsz as double)))
           * 1000000) as bigint) as drift_micro
  from v, t
)
select term, n_old, n_new, drift_micro, cast(rn as int) as rank
from (select s.*, row_number() over (order by abs(drift_micro) desc, term) as rn
      from s) ranked
where rn <= 50
"""


# r8 streaming serving: a standing BM25 index serving a query STREAM
# via foreachBatch — per-query top-k is request-row-local, so the
# drained union equals the one-shot ranking and the oracle IS
# bm25_rank over the same corpus/queries.
ORACLES["streaming_bm25_serve_docs"] = ORACLES["bm25_rank_docs"]


# r8 perceptron depth, second step: the AVERAGED batch perceptron —
# served weights are the bigint sum of per-epoch snapshots (Freund &
# Schapire averaging, sign-equivalent without division).
ORACLES["perceptron_avg_language_docs"] = _perceptron_sql(
    dim=64, epochs=3, averaged=True)


# r8 IVF maintenance: hot-cell rebalance — replay build assignment
# (4 seed cells), find hot cells (> 25 members), seed ceil(n/25)
# sub-centroids per hot cell from its STRIDE-SPREAD members (id-rank
# positions 0, s, 2s, … with s = n // k_c — the r9 seeding that
# samples the whole id range instead of one corner), re-assign ONLY
# hot members by rounded-cosine argmax, and renumber fresh cells
# deterministically from max(CENTROID cell)+1 in (cell, sub_idx)
# order — the base is the cents CTE, not the assignments, mirroring
# the operator (a centroid cell with zero members must not collide
# with a fresh id; r9 advice fix).  Cold members pass through
# verbatim.
ORACLES["ann_ivf_rebalance_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0
      and {_dot_sql('e', 'e')} < 'infinity'::double
), cents as (
    select row_number() over (order by vec_id) - 1 as cell, e as ce, vn as cn
    from (select * from v order by vec_id limit 4) s
), rk as (
    select v.vec_id as id, v.e, v.vn, c.cell,
           row_number() over (partition by v.vec_id
                              order by round({_dot_sql('v.e', 'c.ce')}
                                             / (v.vn * c.cn), 6) desc,
                                       c.cell) as r
    from v, cents c
), assign as (
    select id, e, vn, cast(cell as bigint) as cell from rk where r = 1
), cnt as (
    select cell, cast(count(*) as bigint) as n from assign group by 1
), hot as (
    select cell, cast(ceil(n / 25.0) as bigint) as k_c
    from cnt where n > 25
), seeds as (
    select cell, se, sn, cast(rn // stride as bigint) as sub_idx
    from (
      select a.cell, a.e as se, a.vn as sn,
             row_number() over (partition by a.cell order by a.id) - 1
               as rn,
             h.k_c, greatest(1, c.n // h.k_c) as stride
      from assign a join hot h using (cell) join cnt c using (cell)
    ) where rn % stride = 0 and rn // stride < k_c
), numbered as (
    select cell, se, sn, sub_idx,
           (select max(cell) from cents) + row_number()
             over (order by cell, sub_idx) as new_cell
    from seeds
), moved as (
    select a.id,
           cast(n.new_cell as int) as cell,
           row_number() over (partition by a.id
                              order by round({_dot_sql('a.e', 'n.se')}
                                             / (a.vn * n.sn), 6) desc,
                                       n.sub_idx) as r
    from assign a
    join hot h using (cell)
    join numbered n on n.cell = a.cell
)
select id as vec_id, cell from moved where r = 1
union all
select a.id as vec_id, cast(a.cell as int) as cell
from assign a left join hot h using (cell) where h.cell is null
"""


# r9 dense-serving parity: a standing IVF index serving a query-vector
# STREAM via foreachBatch — per-query top-k is request-row-local, so
# the drained union equals the one-shot search and the oracle IS
# ann_ivf_index_query over the same corpus/queries.
ORACLES["streaming_ann_serve_embeddings"] = ORACLES[
    "ann_ivf_index_query_embeddings"]


# r9 multimodal dedup: integer aHash over the synthetic gradient PPMs
# (%23==1 corpus slice + exact clones under +1e9 ids), 8x8 nearest-
# neighbor grid with the resize_media floor-index convention, gray =
# channel sum = 3*(formula value), bit = 64*g > total, 4x16-bit bands,
# band-blocked pairs confirmed at Hamming <= 3.  Mirrors
# multimodal.phash_media + phash_dup_pairs exactly.
ORACLES["multimodal_phash_dedup_docs"] = """
with corpus as (
  select doc_id from documents where doc_id % 23 = 1 and doc_id % 2 = 1
), img as (
  select doc_id as media_id, doc_id as src,
         4 + doc_id % 13 as w, 3 + doc_id % 7 as h
  from corpus
  union all
  select doc_id + 1000000000, doc_id, 4 + doc_id % 13, 3 + doc_id % 7
  from corpus
), grid as (
  select y.ty, x.tx, (y.ty * 8 + x.tx) as p
  from (select unnest(range(8)) as ty) y
  cross join (select unnest(range(8)) as tx) x
), samp as (
  select i.media_id, g.p,
         3 * ((i.src + 3 * ((g.tx * i.w) // 8)
                     + 7 * ((g.ty * i.h) // 8)) % 256) as gv
  from img i cross join grid g
), tot as (
  select media_id, sum(gv) as s from samp group by 1
), bands as (
  select s.media_id, s.p // 16 as band,
         cast(sum(case when 64 * s.gv > t.s
                       then 1 << (s.p % 16) else 0 end) as int) as bv
  from samp s join tot t using (media_id)
  group by 1, 2
), hashes as (
  select media_id,
         max(case when band = 0 then bv end) as h0,
         max(case when band = 1 then bv end) as h1,
         max(case when band = 2 then bv end) as h2,
         max(case when band = 3 then bv end) as h3
  from bands group by 1
)
select distinct a.media_id as id_a, b.media_id as id_b,
       cast(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3))
            as int) as hamming
from bands ba
join bands bb on bb.band = ba.band and bb.bv = ba.bv
             and bb.media_id > ba.media_id
join hashes a on a.media_id = ba.media_id
join hashes b on b.media_id = bb.media_id
where bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 3
"""


# r9 trainable-filter tier completion: multinomial Naive Bayes trained
# on the doc_id%3<>0 slice (label = lang) and served on the held-out
# doc_id%3=0 slice.  Training replays as plain wordcounts; weights,
# priors, and the per-class OOV default are floor-rounded micro-nat
# bigints evaluated as ONE double expression each (the vocab_drift
# discipline); a smoothed-zero (class, term) weight equals the class
# OOV default exactly, so the sparse weights table is lossless and the
# serving identity needs no vocabulary lookup.  Winner by max score,
# ties to the lexically smaller class.
ORACLES["naive_bayes_language_docs"] = f"""
with train as (
  select doc_id, lang, {_WORDS} as words from documents
  where doc_id % 3 <> 0 and lang is not null and text is not null
), counts as (
  select lang as cls, term, cast(count(*) as bigint) as n
  from (select lang, unnest(words) as term from train) t
  group by 1, 2
), vsz as (
  select count(distinct term) as v from counts
), dtot as (
  select cast(count(*) as bigint) as d from train
), dstats as (
  select lang as cls, cast(count(*) as bigint) as n_docs
  from train group by 1
), tc as (
  select cls, cast(sum(n) as bigint) as t_c from counts group by 1
), cstats as (
  select ds.cls, ds.n_docs,
         cast(floor(ln(cast(ds.n_docs as double) / cast(dt.d as double))
                    * 1000000) as bigint) as prior_micro,
         cast(case when v.v = 0 then 0
                   else floor(ln(1.0 / cast(coalesce(t.t_c, 0) + v.v
                                            as double)) * 1000000)
              end as bigint) as oov_micro
  from dstats ds
  cross join dtot dt cross join vsz v
  left join tc t using (cls)
), weights as (
  select c.cls, c.term,
         cast(floor(ln(cast(c.n + 1 as double)
                       / cast(t.t_c + v.v as double))
                    * 1000000) as bigint) as w_micro
  from counts c join tc t using (cls) cross join vsz v
), test as (
  select doc_id as id, {_WORDS} as words from documents
  where doc_id % 3 = 0 and text is not null
), ntok as (
  select id, cast(len(words) as bigint) as n_tokens from test
), tokc as (
  select id, term, cast(count(*) as bigint) as cnt
  from (select id, unnest(words) as term from test) t
  group by 1, 2
), matched as (
  select t.id, w.cls,
         cast(sum(t.cnt * w.w_micro) as bigint) as m_sum,
         cast(sum(t.cnt) as bigint) as m_cnt
  from tokc t join weights w using (term)
  group by 1, 2
), scores as (
  select n.id, c.cls,
         cast(c.prior_micro + coalesce(m.m_sum, 0)
              + (n.n_tokens - coalesce(m.m_cnt, 0)) * c.oov_micro
              as bigint) as score_micro
  from ntok n
  cross join cstats c
  left join matched m on m.id = n.id and m.cls = c.cls
)
select id as doc_id, cls as label, score_micro
from (
  select id, cls, score_micro,
         row_number() over (partition by id
                            order by score_micro desc, cls asc) as r
  from scores
) ranked
where r = 1
"""


# r9 multimodal dedup, audio half: the %23==2 even-doc corpus as 'am'
# WAVs (sample[i] = (src + 5i) % 201 - 100, n = 8*(len%50+1)) + exact
# clones under +1e9 ids.  Frame energies are int64 Σ|sample| over
# 8-sample frames; peaks are strict local maxima (boundaries never
# peak); each peak fans out to <=3 landmark pairs within dt<=16; keys
# quantize energies by //64; clips sharing >=4 DISTINCT keys are
# near-dups.  Mirrors multimodal.audio_energy_frames/audio_fingerprint/
# audio_dup_pairs exactly.
ORACLES["audio_fingerprint_dedup_docs"] = """
with corpus as (
  select doc_id, coalesce(length(text), 0) as tl from documents
  where doc_id % 23 = 2 and doc_id % 2 = 0
), clips as (
  select doc_id as media_id, doc_id as src, 8 * (tl % 50 + 1) as n
  from corpus
  union all
  select doc_id + 1000000000, doc_id, 8 * (tl % 50 + 1) from corpus
), idx as (
  select unnest(range(400)) as i
), samp as (
  select c.media_id, x.i, abs((c.src + 5 * x.i) % 201 - 100) as a
  from clips c join idx x on x.i < c.n
), fr as (
  select media_id, cast(i // 8 as int) as frame,
         cast(sum(a) as bigint) as energy
  from samp group by 1, 2
), pk as (
  select media_id, frame, energy
  from (
    select media_id, frame, energy,
           lag(energy) over w as pe, lead(energy) over w as ne
    from fr window w as (partition by media_id order by frame)
  ) t where energy > pe and energy > ne
), pairs as (
  select a.media_id, a.frame as f1, b.frame as f2,
         a.energy as e1, b.energy as e2,
         row_number() over (partition by a.media_id, a.frame
                            order by b.frame) as r
  from pk a join pk b on b.media_id = a.media_id
       and b.frame > a.frame and b.frame - a.frame <= 16
), keys as (
  select distinct media_id, e1 // 64 as eq1, e2 // 64 as eq2,
         cast(f2 - f1 as int) as dt
  from pairs where r <= 3
)
select a.media_id as id_a, b.media_id as id_b,
       cast(count(*) as bigint) as n_matches
from keys a
join keys b on a.eq1 = b.eq1 and a.eq2 = b.eq2 and a.dt = b.dt
           and a.media_id < b.media_id
group by 1, 2
having count(*) >= 4
"""


# r9 tokenizer-coverage monitoring: build_vocab top-500 on the even-doc
# slice (count desc, term asc), per-doc OOV counts over every document;
# oov_micro = n_oov*1e6 div n_tokens in pure bigint arithmetic (NULL
# for zero-token docs).  Mirrors corpus.oov_rate over
# textstats.build_vocab.
ORACLES["oov_rate_docs"] = f"""
with vcounts as (
  select term, cast(count(*) as bigint) as n
  from (
    select unnest({_WORDS}) as term from documents
    where doc_id % 2 = 0 and text is not null
  ) t group by 1
), vocab as (
  select term from (
    select term, row_number() over (order by n desc, term asc) as rn
    from vcounts
  ) r where rn <= 500
), w as (
  select doc_id as id, {_WORDS} as words from documents
  where text is not null
), base as (
  select id, cast(len(words) as bigint) as n_tokens from w
), oov as (
  select id, cast(count(*) as bigint) as n_oov
  from (select id, unnest(words) as term from w) t
  where term not in (select term from vocab)
  group by 1
)
select b.id as doc_id, b.n_tokens,
       cast(coalesce(o.n_oov, 0) as bigint) as n_oov,
       cast(case when b.n_tokens = 0 then null
                 else (coalesce(o.n_oov, 0) * 1000000) // b.n_tokens
            end as bigint) as oov_micro
from base b left join oov o using (id)
"""


# r9 retrieval evaluation: the bm25_rank_docs ranking (%13 queries,
# top-5) scored against deterministic qrels (same-source doc_id%11==3
# docs).  Discounted gains are floored to micro-units PER TERM
# (floor(1e6/log2(rank+1))), DCG/IDCG are exact bigint sums, and
# MRR/recall/NDCG are bigint divisions — replays bit-for-bit.
# Mirrors textstats.retrieval_metrics over bm25_rank.
ORACLES["retrieval_eval_docs"] = f"""
with w as (select doc_id as id, unnest({_WORDS}) as term
           from documents where text is not null),
tf as (select id, term, cast(count(*) as bigint) as tf from w group by 1, 2),
dl as (select id, cast(sum(tf) as bigint) as dl from tf group by 1),
st as (select cast(count(*) as bigint) as n,
              cast(sum(dl) as bigint) as total from dl),
idf as (select term, cast(floor(ln(1.0 + (cast(st.n as double) - df_t + 0.5)
                 / (df_t + 0.5)) * 1000) as bigint) as idf_milli
        from (select term, cast(count(distinct id) as bigint) as df_t
              from tf group by 1) d, st),
qt as (select distinct doc_id as query_id, unnest({_WORDS}) as term
       from documents where doc_id % 13 = 0 and text is not null),
sc as (select q.query_id, p.id,
              cast(sum(cast(floor(cast(idf_milli as double)
                  * (44.0 * tf * total)
                  / (20.0 * tf * total + 6.0 * total + 18.0 * dl * n)
                  * 1000.0) as bigint)) as bigint) as score_micro
       from qt q join tf p using (term) join idf using (term)
       join dl on dl.id = p.id, st group by 1, 2),
rk as (select query_id, doc_id, rank from (
         select query_id, id as doc_id, score_micro,
                cast(row_number() over (partition by query_id
                     order by score_micro desc, id) as int) as rank
         from sc) r where rank <= 5),
qr as (select distinct q.doc_id as query_id, d.doc_id
       from documents q join documents d on d.source = q.source
       where q.doc_id % 13 = 0 and d.doc_id % 11 = 3
         and d.doc_id <> q.doc_id),
nrel as (select query_id, cast(count(*) as bigint) as n_rel
         from qr group by 1),
h as (select r.query_id,
             cast(count(*) as bigint) as hits,
             min(r.rank) as first_rank,
             cast(sum(cast(floor(1000000.0 / log2(r.rank + 1))
                           as bigint)) as bigint) as dcg_micro
      from rk r join qr on qr.query_id = r.query_id
                       and qr.doc_id = r.doc_id
      group by 1),
terms as (select unnest(range(1, 6)) as i),
idcg as (select n.query_id,
                cast(sum(cast(floor(1000000.0 / log2(t.i + 1))
                              as bigint)) as bigint) as idcg_micro
         from nrel n join terms t on t.i <= least(n.n_rel, 5)
         group by 1)
select n.query_id, n.n_rel,
       cast(coalesce(h.hits, 0) as bigint) as hits,
       cast(case when h.first_rank is null then 0
                 else 1000000 // h.first_rank end as bigint) as mrr_micro,
       cast((coalesce(h.hits, 0) * 1000000) // n.n_rel
            as bigint) as recall_micro,
       cast(coalesce(h.dcg_micro, 0) as bigint) as dcg_micro,
       i.idcg_micro,
       cast((coalesce(h.dcg_micro, 0) * 1000000) // i.idcg_micro
            as bigint) as ndcg_micro
from nrel n
join idcg i using (query_id)
left join h using (query_id)
"""


# r9 incremental NB: batch statistics merged by exact bigint addition
# finalize bit-identically to retraining on the union — the oracle IS
# the one-shot training replay (the bm25_index_append precedent).
ORACLES["naive_bayes_incremental_docs"] = ORACLES[
    "naive_bayes_language_docs"]


# r9 checksum-validated PII: injected 16-digit numbers ((doc_id*7919)
# mod 1e16, dash-grouped on even docs) extracted by the RE2-compatible
# candidate regex and Luhn-verified digit by digit (indexed fold from
# the right, double-every-second, mod 10).  Mirrors
# textstats.detect_credit_cards.
ORACLES["credit_card_detect_docs"] = r"""
with aug as (
  select doc_id,
         text || ' #' || case when doc_id % 2 = 0
           then substr(num, 1, 4) || '-' || substr(num, 5, 4) || '-'
                || substr(num, 9, 4) || '-' || substr(num, 13, 4)
           else num end as text
  from (
    select doc_id, text,
           lpad(cast((doc_id * 7919) % 10000000000000000 as varchar),
                16, '0') as num
    from documents where doc_id % 5 = 0 and text is not null
  ) t
), spans as (
  select doc_id,
         unnest(regexp_extract_all(text, '\d(?:[ -]?\d){12,18}')) as span
  from aug
), d as (
  select doc_id, span,
         regexp_replace(span, '[^0-9]', '', 'g') as digits
  from spans
)
select doc_id, span, digits,
       cast(length(digits) as int) as n_digits,
       (length(digits) between 13 and 19
        and list_sum(list_transform(range(1, length(digits) + 1), i ->
              case when i % 2 = 1
                   then cast(substr(reverse(digits), i, 1) as int)
                   when 2 * cast(substr(reverse(digits), i, 1) as int) > 9
                   then 2 * cast(substr(reverse(digits), i, 1) as int) - 9
                   else 2 * cast(substr(reverse(digits), i, 1) as int)
              end)) % 10 = 0) as luhn_valid
from d
"""


# r9 classifier evaluation: the NB predictions replay (above) joined
# to gold lang labels; per-class confusion + precision/recall/F1 as
# bigint micro divisions (F1 = 2tp/(2tp+fp+fn), one division).
# Mirrors textstats.classification_metrics.
ORACLES["classifier_eval_docs"] = f"""
with preds as (
  select * from ({ORACLES["naive_bayes_language_docs"]}) nbp
), gold as (
  select doc_id, lang as g from documents
  where doc_id % 3 = 0 and lang is not null
), j as (
  select p.label as pred, g.g as gold
  from preds p join gold g using (doc_id)
), ps as (
  select pred as cls, cast(count(*) as bigint) as n_pred,
         cast(sum(case when pred = gold then 1 else 0 end) as bigint)
           as tp
  from j group by 1
), gs as (
  select gold as cls, cast(count(*) as bigint) as n_gold
  from j group by 1
), m as (
  select cls,
         cast(coalesce(tp, 0) as bigint) as tp,
         cast(coalesce(n_pred, 0) - coalesce(tp, 0) as bigint) as fp,
         cast(coalesce(n_gold, 0) - coalesce(tp, 0) as bigint) as fn,
         cast(coalesce(n_gold, 0) as bigint) as n_gold,
         cast(coalesce(n_pred, 0) as bigint) as n_pred
  from ps full outer join gs using (cls)
)
select cls, tp, fp, fn, n_gold, n_pred,
       cast(case when tp + fp = 0 then 0
                 else (tp * 1000000) // (tp + fp) end as bigint)
         as precision_micro,
       cast(case when tp + fn = 0 then 0
                 else (tp * 1000000) // (tp + fn) end as bigint)
         as recall_micro,
       cast(case when 2 * tp + fp + fn = 0 then 0
                 else (2 * tp * 1000000) // (2 * tp + fp + fn) end
            as bigint) as f1_micro
from m
"""


# r9 index deletion lifecycle.  BM25: delete ≡ rebuild on the
# remaining corpus (per-doc tf/dl are independent; df/idf/N/total
# re-aggregate from surviving postings) — the oracle IS the bm25_rank
# replay over the tombstone-filtered corpus, full %13 query batch.
_bm25_del = ORACLES["bm25_rank_docs"].replace(
    "from documents where text is not null),",
    "from documents where text is not null and doc_id % 6 <> 0),",
    1)
assert _bm25_del != ORACLES["bm25_rank_docs"]
ORACLES["bm25_index_delete_docs"] = _bm25_del
del _bm25_del

# IVF: STANDING-centroid semantics — deleted ids leave the
# assignments, the centroid seeds (which may include deleted ids) do
# not move, and queries may themselves be deleted ids.  The oracle is
# the ann_ivf_index_query replay with only the assign CTE filtered.
_ivf_del = ORACLES["ann_ivf_index_query_embeddings"].replace(
    "select id, cell from ranked where r = 1",
    "select id, cell from ranked where r = 1 and id % 6 <> 0",
    1)
assert _ivf_del != ORACLES["ann_ivf_index_query_embeddings"]
ORACLES["ann_ivf_index_delete_embeddings"] = _ivf_del
del _ivf_del


# r9 multimodal dedup, video half: the %19==4 corpus as concatenated
# gradient clips (frame f pixel = (src + 3x + 7y + 11f) % 256, frames
# = 2 + src%7, w/h the image formulas) + exact clones under +1e9 ids.
# Per-frame aHash replays the phash grid math with the +11f term;
# pairs share >=2 exact (frame position, h0..h3) keys.  Mirrors
# multimodal.synth_video/video_frame_hashes/video_dup_pairs.
ORACLES["multimodal_video_dedup_docs"] = """
with corpus as (
  select doc_id from documents where doc_id % 19 = 4
), clip as (
  select doc_id as media_id, doc_id as src,
         4 + doc_id % 13 as w, 3 + doc_id % 7 as h,
         2 + doc_id % 7 as nf
  from corpus
  union all
  select doc_id + 1000000000, doc_id, 4 + doc_id % 13,
         3 + doc_id % 7, 2 + doc_id % 7
  from corpus
), frames as (
  select c.media_id, c.src, c.w, c.h, f.f
  from clip c join (select unnest(range(9)) as f) f on f.f < c.nf
), grid as (
  select y.ty, x.tx, (y.ty * 8 + x.tx) as p
  from (select unnest(range(8)) as ty) y
  cross join (select unnest(range(8)) as tx) x
), samp as (
  select fr.media_id, fr.f, g.p,
         3 * ((fr.src + 3 * ((g.tx * fr.w) // 8)
                      + 7 * ((g.ty * fr.h) // 8)
                      + 11 * fr.f) % 256) as gv
  from frames fr cross join grid g
), tot as (
  select media_id, f, sum(gv) as s from samp group by 1, 2
), bands as (
  select s.media_id, s.f, s.p // 16 as band,
         cast(sum(case when 64 * s.gv > t.s
                       then 1 << (s.p % 16) else 0 end) as int) as bv
  from samp s join tot t on t.media_id = s.media_id and t.f = s.f
  group by 1, 2, 3
), hashes as (
  select media_id, f,
         max(case when band = 0 then bv end) as h0,
         max(case when band = 1 then bv end) as h1,
         max(case when band = 2 then bv end) as h2,
         max(case when band = 3 then bv end) as h3
  from bands group by 1, 2
)
select a.media_id as id_a, b.media_id as id_b,
       cast(count(*) as bigint) as n_frames_matched
from hashes a
join hashes b on b.f = a.f and b.h0 = a.h0 and b.h1 = a.h1
             and b.h2 = a.h2 and b.h3 = a.h3
             and b.media_id > a.media_id
group by 1, 2
having count(*) >= 2
"""


# r10 temporal-offset video alignment: the video gate's gradient-clip
# corpus plus TRIMMED clones (first frame dropped, container positions
# re-based to 0, ids under +1e9).  Per-frame aHash replays the video
# oracle's grid math with the CONTENT frame index (cf) driving the
# gradient and the container POSITION (pos) driving the pair key;
# candidates join on the full 64-bit hash with position deliberately
# out of the key, group by the position delta, and keep the best
# offset per pair (count desc, offset asc — the
# video_dup_pairs_aligned window).
ORACLES["multimodal_video_align_docs"] = """
with corpus as (
  select doc_id from documents where doc_id % 19 = 4
), clip as (
  select doc_id as media_id, doc_id as src,
         4 + doc_id % 13 as w, 3 + doc_id % 7 as h,
         2 + doc_id % 7 as nf, 0 as f0
  from corpus
  union all
  select doc_id + 1000000000, doc_id, 4 + doc_id % 13,
         3 + doc_id % 7, 2 + doc_id % 7, 1
  from corpus
), frames as (
  select c.media_id, c.src, c.w, c.h, f.f as cf, f.f - c.f0 as pos
  from clip c join (select unnest(range(9)) as f) f
    on f.f >= c.f0 and f.f < c.nf
), grid as (
  select y.ty, x.tx, (y.ty * 8 + x.tx) as p
  from (select unnest(range(8)) as ty) y
  cross join (select unnest(range(8)) as tx) x
), samp as (
  select fr.media_id, fr.pos, g.p,
         3 * ((fr.src + 3 * ((g.tx * fr.w) // 8)
                      + 7 * ((g.ty * fr.h) // 8)
                      + 11 * fr.cf) % 256) as gv
  from frames fr cross join grid g
), tot as (
  select media_id, pos, sum(gv) as s from samp group by 1, 2
), bands as (
  select s.media_id, s.pos, s.p // 16 as band,
         cast(sum(case when 64 * s.gv > t.s
                       then 1 << (s.p % 16) else 0 end) as int) as bv
  from samp s join tot t on t.media_id = s.media_id and t.pos = s.pos
  group by 1, 2, 3
), hashes as (
  select media_id, pos,
         max(case when band = 0 then bv end) as h0,
         max(case when band = 1 then bv end) as h1,
         max(case when band = 2 then bv end) as h2,
         max(case when band = 3 then bv end) as h3
  from bands group by 1, 2
), paired as (
  select a.media_id as id_a, b.media_id as id_b,
         cast(b.pos - a.pos as int) as "offset",
         cast(count(*) as bigint) as n_frames_matched
  from hashes a
  join hashes b on b.h0 = a.h0 and b.h1 = a.h1 and b.h2 = a.h2
               and b.h3 = a.h3 and b.media_id > a.media_id
  group by 1, 2, 3
  having count(*) >= 2
)
select id_a, id_b, "offset", n_frames_matched
from paired
qualify row_number() over (partition by id_a, id_b
                           order by n_frames_matched desc, "offset") = 1
"""


# r10 threshold sweep / PR curve: the binary perceptron's served
# scores (full training replay above) swept over every distinct
# threshold against the gold en-language ids.  Cumulative bigint
# confusion counts via desc-ordered windows over the DISTINCT
# threshold lattice; micro-unit ratios with the classification_metrics
# divisions (f1 = 2tp·1e6 div (2tp+fp+fn)).
ORACLES["pr_curve_language_docs"] = f"""
with scored as (
  select * from ({ORACLES["perceptron_language_docs"]}) s0
), pos as (
  select distinct doc_id from documents where lang = 'en'
), lab as (
  select s.score as threshold,
         case when p.doc_id is not null then 1 else 0 end as is_pos
  from scored s left join pos p using (doc_id)
), per as (
  select threshold, cast(count(*) as bigint) as n,
         cast(sum(is_pos) as bigint) as np
  from lab group by 1
), cum as (
  select threshold,
         cast(sum(n) over (order by threshold desc) as bigint) as n_pred,
         cast(sum(np) over (order by threshold desc) as bigint) as tp,
         cast(sum(np) over () as bigint) as total_pos
  from per
)
select threshold, n_pred, tp,
       cast(n_pred - tp as bigint) as fp,
       cast(total_pos - tp as bigint) as fn,
       cast((tp * 1000000) // n_pred as bigint) as precision_micro,
       cast(case when total_pos = 0 then 0
                 else (tp * 1000000) // total_pos end as bigint)
         as recall_micro,
       cast(case when 2 * tp + (n_pred - tp) + (total_pos - tp) = 0
                 then 0
                 else (2 * tp * 1000000)
                      // (2 * tp + (n_pred - tp) + (total_pos - tp))
            end as bigint) as f1_micro
from cum
"""


# r10 composed deletion lifecycle: delete -> rebalance -> serve on one
# IVF index in a single replay.  assign is the standing-centroid
# assignment MINUS the %6 tombstones (the delete gate's semantics);
# the rebalance CTEs (cnt/hot/seeds/numbered/moved — max_cell_rows=25,
# stride-spread survivor seeding, fresh ids from max(centroid cell)+1)
# run over the SURVIVORS; the search replay then ranks the %20 query
# batch against the post-rebalance centroid set (standing cold cells +
# normalized sub-centroids) and probes 4 cells.
ORACLES["ann_ivf_lifecycle_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e from embeddings
), v as (
    select vec_id, e, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0
      and {_dot_sql('e', 'e')} < 'infinity'::double
), cents as (
    select row_number() over (order by vec_id) - 1 as cell, e as ce,
           vn as cn
    from (select * from v order by vec_id limit 4) s
), rk as (
    select v.vec_id as id, v.e, v.vn, c.cell,
           row_number() over (partition by v.vec_id
                              order by round({_dot_sql('v.e', 'c.ce')}
                                             / (v.vn * c.cn), 6) desc,
                                       c.cell) as r
    from v, cents c
), assign as (
    select id, e, vn, cast(cell as bigint) as cell from rk
    where r = 1 and id % 6 <> 0
), cnt as (
    select cell, cast(count(*) as bigint) as n from assign group by 1
), hot as (
    select cell, cast(ceil(n / 25.0) as bigint) as k_c
    from cnt where n > 25
), seeds as (
    select cell, se, sn, cast(rn // stride as bigint) as sub_idx
    from (
      select a.cell, a.e as se, a.vn as sn,
             row_number() over (partition by a.cell order by a.id) - 1
               as rn,
             h.k_c, greatest(1, c.n // h.k_c) as stride
      from assign a join hot h using (cell) join cnt c using (cell)
    ) where rn % stride = 0 and rn // stride < k_c
), numbered as (
    select cell, se, sn, sub_idx,
           (select max(cell) from cents) + row_number()
             over (order by cell, sub_idx) as new_cell
    from seeds
), moved as (
    select a.id,
           cast(n.new_cell as bigint) as cell,
           row_number() over (partition by a.id
                              order by round({_dot_sql('a.e', 'n.se')}
                                             / (a.vn * n.sn), 6) desc,
                                       n.sub_idx) as r
    from assign a
    join hot h using (cell)
    join numbered n on n.cell = a.cell
), newassign as (
    select id, cell from moved where r = 1
    union all
    select a.id, a.cell
    from assign a left join hot h using (cell) where h.cell is null
), allcents as (
    select c.cell, c.ce, c.cn
    from cents c left join hot h using (cell) where h.cell is null
    union all
    select cast(n.new_cell as bigint), n.se, n.sn from numbered n
), qrk as (
    select q.vec_id as query_id, ac.cell,
           row_number() over (partition by q.vec_id
                              order by round({_dot_sql('q.e', 'ac.ce')}
                                             / (q.vn * ac.cn), 6) desc,
                                       ac.cell) as r
    from v q, allcents ac
    where q.vec_id % 20 = 0
), probes as (
    select query_id, cell from qrk where r <= 4
), scored as (
    select p.query_id, m.id as nbr_id,
           {_dot_sql('q.e', 'mv.e')} / (q.vn * mv.vn) as cosine
    from probes p
    join newassign m using (cell)
    join v q on q.vec_id = p.query_id
    join v mv on mv.vec_id = m.id
    where p.query_id <> m.id
)
select query_id, nbr_id, round(cosine, 6) as cosine,
       cast(row_number() over (partition by query_id
                               order by round(cosine, 6) desc, nbr_id)
            as int) as rank
from scored
qualify rank <= 3
"""


# r10 exact ROC-AUC: Mann-Whitney with midrank ties over the binary
# perceptron's served scores vs the gold en ids — doubled midranks
# clear the halves, so AUC is one bigint expression; a constant scorer
# yields exactly 500000.
ORACLES["auc_language_docs"] = f"""
with scored as (
  select * from ({ORACLES["perceptron_language_docs"]}) s0
), pos as (
  select distinct doc_id from documents where lang = 'en'
), lab as (
  select s.score as sc,
         case when p.doc_id is not null then 1 else 0 end as is_pos
  from scored s left join pos p using (doc_id)
), per as (
  select sc, cast(count(*) as bigint) as n,
         cast(sum(is_pos) as bigint) as np
  from lab group by 1
), ranked as (
  select n, np,
         cast(coalesce(sum(n) over (order by sc
                rows between unbounded preceding and 1 preceding), 0)
              as bigint) as cum
  from per
), agg as (
  select cast(sum(np) as bigint) as n_pos,
         cast(sum(n) - sum(np) as bigint) as n_neg,
         cast(sum(np * (2 * cum + n + 1)) as bigint) as r2
  from ranked
)
select n_pos, n_neg,
       cast(case when n_pos = 0 or n_neg = 0 then null
                 else ((r2 - n_pos * (n_pos + 1)) * 1000000)
                      // (2 * n_pos * n_neg) end as bigint) as auc_micro
from agg
"""


# r10 calibration table: 10 equal-width bigint score bins over the
# observed [lo, hi]; bigint micro positive rates and a FLOOR-exact
# mean (positive-residue subtraction makes the quotient exact, immune
# to div-rounding differences).
ORACLES["calibration_language_docs"] = f"""
with scored as (
  select * from ({ORACLES["perceptron_language_docs"]}) s0
), pos as (
  select distinct doc_id from documents where lang = 'en'
), lab as (
  select s.score as sc,
         case when p.doc_id is not null then 1 else 0 end as is_pos
  from scored s left join pos p using (doc_id)
), rng as (
  select min(sc) as lo, max(sc) as hi from lab
), b as (
  select cast(case when r.hi = r.lo then 0
              else least(((l.sc - r.lo) * 10) // (r.hi - r.lo), 9)
              end as int) as bin,
         l.sc, l.is_pos
  from lab l, rng r
), g as (
  select bin, cast(count(*) as bigint) as n,
         cast(sum(is_pos) as bigint) as n_pos,
         cast(sum(sc) as bigint) as ssum
  from b group by 1
)
select g.bin,
       cast(r.lo + (cast(g.bin as bigint) * (r.hi - r.lo)) // 10
            as bigint) as lo_score,
       g.n, g.n_pos,
       cast((g.n_pos * 1000000) // g.n as bigint) as pos_rate_micro,
       cast((g.ssum - ((g.ssum % g.n) + g.n) % g.n) // g.n as bigint)
         as mean_score
from g, rng r
"""


# r10 distributed BPE training replay (the perceptron replayed-training
# precedent): v0 is the word-frequency vocabulary in the boundary-safe
# double-space form; each step k counts adjacent token pairs (zipped
# parallel unnest of the token list's two offset slices), takes the
# (count desc, lexicographic) argmax, and applies the ' a  b ' ->
# ' ab ' replace — guarded so a corpus that runs out of pairs carries
# the vocabulary forward unchanged instead of NULLing it.
def _bpe_train_sql(n_steps: int = 8) -> str:
    parts = [f"""
with w as (
  select unnest({_WORDS}) as word
  from documents where text is not null
), v0 as materialized (
  select cast(count(*) as bigint) as n,
         ' ' || array_to_string(string_split(word, ''), '  ') || ' '
           as seq
  from w group by word
)"""]
    for k in range(1, n_steps + 1):
        parts.append(f""", p{k} as materialized (
  select a, b, cast(sum(n) as bigint) as cnt from (
    select n,
           unnest(toks[1:len(toks) - 1]) as a,
           unnest(toks[2:len(toks)]) as b
    from (select n, string_split(trim(seq), '  ') as toks
          from v{k - 1}) s
    where len(toks) >= 2
  ) pe group by 1, 2
), m{k} as materialized (
  select cast({k} as int) as step, a, b from p{k}
  order by cnt desc, a, b limit 1
), v{k} as materialized (
  select n,
         case when (select count(*) from m{k}) = 0 then seq
              else replace(seq,
                ' ' || (select a from m{k}) || '  '
                    || (select b from m{k}) || ' ',
                ' ' || (select a from m{k})
                    || (select b from m{k}) || ' ')
         end as seq
  from v{k - 1}
)""")
    union = "\nunion all\n".join(
        f"select step, a as lhs, b as rhs, a || b as merged from m{k}"
        for k in range(1, n_steps + 1))
    parts.append("\n" + union)
    return "".join(parts)


ORACLES["bpe_train_docs"] = _bpe_train_sql(8)


# r11 TRAINED language ID: multinomial NB over char TRIGRAMS of the
# space-joined normalized words, one pad space each side (textstats.py:
# char_ngrams/langid_train/langid_apply — Cavnar & Trenkle n-gram
# categorization over the NB trainer's micro-nat lattice).  The oracle
# replays training AND serving bit-for-bit: same add-1 smoothing, same
# floor(ln·1e6) weights, same sparse-model oov identity, same
# (score desc, cls asc) argmax.  A no-words document yields zero grams
# (two pad spaces < 3) and scores prior-only.
_CNG3 = (
    "case when length(s) >= 3 then "
    "[substring(s, i, 3) for i in generate_series(1, length(s) - 2)] "
    "else [] end"
)

ORACLES["langid_nb_docs"] = f"""
with train0 as (
  select doc_id, lang,
         ' ' || array_to_string({_WORDS}, ' ') || ' ' as s
  from documents
  where doc_id % 3 <> 0 and lang is not null and text is not null
), train as (
  select doc_id, lang, {_CNG3} as grams from train0
), counts as (
  select lang as cls, term, cast(count(*) as bigint) as n
  from (select lang, unnest(grams) as term from train) t
  group by 1, 2
), vsz as (
  select count(distinct term) as v from counts
), dtot as (
  select cast(count(*) as bigint) as d from train
), dstats as (
  select lang as cls, cast(count(*) as bigint) as n_docs
  from train group by 1
), tc as (
  select cls, cast(sum(n) as bigint) as t_c from counts group by 1
), cstats as (
  select ds.cls, ds.n_docs,
         cast(floor(ln(cast(ds.n_docs as double) / cast(dt.d as double))
                    * 1000000) as bigint) as prior_micro,
         cast(case when v.v = 0 then 0
                   else floor(ln(1.0 / cast(coalesce(t.t_c, 0) + v.v
                                            as double)) * 1000000)
              end as bigint) as oov_micro
  from dstats ds
  cross join dtot dt cross join vsz v
  left join tc t using (cls)
), weights as (
  select c.cls, c.term,
         cast(floor(ln(cast(c.n + 1 as double)
                       / cast(t.t_c + v.v as double))
                    * 1000000) as bigint) as w_micro
  from counts c join tc t using (cls) cross join vsz v
), test0 as (
  select doc_id as id,
         ' ' || array_to_string({_WORDS}, ' ') || ' ' as s
  from documents
  where doc_id % 3 = 0 and text is not null
), test as (
  select id, {_CNG3} as grams from test0
), ntok as (
  select id, cast(len(grams) as bigint) as n_tokens from test
), tokc as (
  select id, term, cast(count(*) as bigint) as cnt
  from (select id, unnest(grams) as term from test) t
  group by 1, 2
), matched as (
  select t.id, w.cls,
         cast(sum(t.cnt * w.w_micro) as bigint) as m_sum,
         cast(sum(t.cnt) as bigint) as m_cnt
  from tokc t join weights w using (term)
  group by 1, 2
), scores as (
  select n.id, c.cls,
         cast(c.prior_micro + coalesce(m.m_sum, 0)
              + (n.n_tokens - coalesce(m.m_cnt, 0)) * c.oov_micro
              as bigint) as score_micro
  from ntok n
  cross join cstats c
  left join matched m on m.id = n.id and m.cls = c.cls
)
select id as doc_id, cls as label, score_micro
from (
  select id, cls, score_micro,
         row_number() over (partition by id
                            order by score_micro desc, cls asc) as r
  from scores
) ranked
where r = 1
"""


# r11 langid evaluation: classification_metrics over the trained
# langid predictions vs gold lang on the held-out third — the same
# confusion/P/R/F1 micro lattice as classifier_eval_docs, closing the
# eval loop on the langid upgrade.
ORACLES["langid_eval_docs"] = f"""
with preds as (
  select * from ({ORACLES["langid_nb_docs"]}) lp
), gold as (
  select doc_id, lang as g from documents
  where doc_id % 3 = 0 and lang is not null
), j as (
  select p.label as pred, g.g as gold
  from preds p join gold g using (doc_id)
), ps as (
  select pred as cls, cast(count(*) as bigint) as n_pred,
         cast(sum(case when pred = gold then 1 else 0 end) as bigint)
           as tp
  from j group by 1
), gs as (
  select gold as cls, cast(count(*) as bigint) as n_gold
  from j group by 1
), m as (
  select cls,
         cast(coalesce(tp, 0) as bigint) as tp,
         cast(coalesce(n_pred, 0) - coalesce(tp, 0) as bigint) as fp,
         cast(coalesce(n_gold, 0) - coalesce(tp, 0) as bigint) as fn,
         cast(coalesce(n_gold, 0) as bigint) as n_gold,
         cast(coalesce(n_pred, 0) as bigint) as n_pred
  from ps full outer join gs using (cls)
)
select cls, tp, fp, fn, n_gold, n_pred,
       cast(case when tp + fp = 0 then 0
                 else (tp * 1000000) // (tp + fp) end as bigint)
         as precision_micro,
       cast(case when tp + fn = 0 then 0
                 else (tp * 1000000) // (tp + fn) end as bigint)
         as recall_micro,
       cast(case when 2 * tp + fp + fn = 0 then 0
                 else (2 * tp * 1000000) // (2 * tp + fp + fn) end
            as bigint) as f1_micro
from m
"""


# r11 MinHash index deletion lifecycle: corpus index (id < 400) with
# the %6==0 ids TOMBSTONED, then the id >= 400 batch matched against
# the shrunk index.  A MinHash signature row is entirely
# per-document, so delete ≡ rebuild bit-identically and the oracle IS
# the incremental_dedup replay with the corpus side additionally
# filtered to the survivors (dedup.py:minhash_index_delete).
ORACLES["minhash_index_delete_docs"] = f"""
with sh0 as (
    select doc_id as id, {_WORDS} as words from documents
), sh as (
    select id, case when len(words) >= 3 then {_SHINGLES} else [] end as shingles
    from sh0
), shn as (
    select id, shingles, len(shingles) as n_sh from sh where len(shingles) > 0
), f as (
    select id, unnest(shingles) as s from shn
), shared as (
    select c.id as corpus_id, b.id as batch_id, count(*) as shared
    from f c join f b on c.s = b.s
         and c.id < 400 and c.id % 6 <> 0 and b.id >= 400
    group by 1, 2
)
select s.corpus_id, s.batch_id,
       s.shared / (nc.n_sh + nb.n_sh - s.shared) as jaccard
from shared s
join shn nc on nc.id = s.corpus_id
join shn nb on nb.id = s.batch_id
where s.shared / (nc.n_sh + nb.n_sh - s.shared) >= 0.7
"""


# r11 operating-point selection: the F1-argmax row of the perceptron
# language filter's pr_curve sweep, ties to the LOWEST threshold
# (prefer recall at equal F1) — the oracle wraps the (already exact)
# pr_curve replay in the deterministic argmax.
ORACLES["threshold_select_language_docs"] = f"""
select threshold, n_pred, tp, fp, fn,
       precision_micro, recall_micro, f1_micro
from ({ORACLES["pr_curve_language_docs"]}) curve
order by f1_micro desc, threshold asc
limit 1
"""


# r11 persisted-IVFPQ deletion lifecycle: STANDING-model semantics —
# deleted ids leave the integer code table; the coarse centroids and
# the PQ codebook (trained artifacts, seeded from the FULL corpus) do
# not move.  The oracle is the ivfpq_search replay with only the
# candidate scan filtered to survivors.
_ivfpq_del = ORACLES["ivfpq_search_embeddings"].replace(
    "where l.query_id <> e.vec_id",
    "where l.query_id <> e.vec_id and e.vec_id % 6 <> 0",
    1)
assert _ivfpq_del != ORACLES["ivfpq_search_embeddings"]
ORACLES["ivfpq_index_lifecycle_embeddings"] = _ivfpq_del
del _ivfpq_del


# r11 persisted-IVFPQ ingest lifecycle: standing-model APPEND — the
# coarse seeds and the codebook seeds draw from the HISTORY slice
# (vec_id % 7 <> 0) only, while assignment, encode, and the candidate
# scan cover the full corpus (history + appended batch).  The oracle
# is the ivfpq_search replay with just the two seed CTEs filtered.
_ivfpq_app = ORACLES["ivfpq_search_embeddings"].replace(
    "from (select * from v0 order by vec_id limit 16)",
    "from (select * from v0 where vec_id % 7 <> 0 "
    "order by vec_id limit 16)",
    1).replace(
    "from (select * from resid order by vec_id limit 16)",
    "from (select * from resid where vec_id % 7 <> 0 "
    "order by vec_id limit 16)",
    1)
assert _ivfpq_app.count("% 7 <> 0") == 2
ORACLES["ivfpq_index_append_embeddings"] = _ivfpq_app
del _ivfpq_app


# r11 kNN classification: exact matmul path — search replays the
# cosine_topk_blas round-9dp rank contract over the labeled/query
# split, then the majority vote with the pinned tie-break (votes DESC
# → best rank ASC → label ASC).  NULL-labeled corpus rows are
# excluded BEFORE search (they cannot vote and must not displace
# votable neighbors from the top-k).
_KNN_VOTE = """
votes as (
    select query_id, lbl, count(*) as votes, min(rank) as best_rank
    from topk group by 1, 2
)
select query_id, lbl as pred_label, cast(votes as bigint) as votes,
       cast(best_rank as int) as best_rank
from votes
qualify row_number() over (partition by query_id
                           order by votes desc, best_rank, lbl) = 1
"""

ORACLES["knn_classify_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e, label from embeddings
), v as (
    select vec_id, e, label, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract
), lab as (
    select vec_id, e, label, vn from v
    where vec_id % 3 <> 0 and label is not null
), q as (
    select vec_id, e, vn from v where vec_id % 3 = 0
), scored as (
    select q.vec_id as query_id, c.vec_id as nbr_id, c.label as lbl,
           round({_dot_sql('q.e', 'c.e')} / (q.vn * c.vn), 9) as cosine
    from q join lab c on q.vec_id <> c.vec_id
), topk as (
    select query_id, nbr_id, lbl,
           row_number() over (partition by query_id
                              order by cosine desc, nbr_id) as rank
    from scored
    qualify rank <= 5
), {_KNN_VOTE}
"""


# r11 kNN evaluation: the knn_classify predictions on the held-out
# third vs the gold label column — the classifier_eval_docs
# confusion/P/R/F1 micro lattice.
ORACLES["knn_eval_embeddings"] = f"""
with preds as (
  select query_id as vec_id, pred_label
  from ({ORACLES["knn_classify_embeddings"]}) kp
), gold as (
  select vec_id, label as g from embeddings
  where vec_id % 3 = 0 and label is not null
), j as (
  select cast(p.pred_label as varchar) as pred,
         cast(g.g as varchar) as gold
  from preds p join gold g using (vec_id)
), ps as (
  select pred as cls, cast(count(*) as bigint) as n_pred,
         cast(sum(case when pred = gold then 1 else 0 end) as bigint)
           as tp
  from j group by 1
), gs as (
  select gold as cls, cast(count(*) as bigint) as n_gold
  from j group by 1
), m as (
  select cls,
         cast(coalesce(tp, 0) as bigint) as tp,
         cast(coalesce(n_pred, 0) - coalesce(tp, 0) as bigint) as fp,
         cast(coalesce(n_gold, 0) - coalesce(tp, 0) as bigint) as fn,
         cast(coalesce(n_gold, 0) as bigint) as n_gold,
         cast(coalesce(n_pred, 0) as bigint) as n_pred
  from ps full outer join gs using (cls)
)
select cls, tp, fp, fn, n_gold, n_pred,
       cast(case when tp + fp = 0 then 0
                 else (tp * 1000000) // (tp + fp) end as bigint)
         as precision_micro,
       cast(case when tp + fn = 0 then 0
                 else (tp * 1000000) // (tp + fn) end as bigint)
         as recall_micro,
       cast(case when 2 * tp + fp + fn = 0 then 0
                 else (2 * tp * 1000000) // (2 * tp + fp + fn) end
            as bigint) as f1_micro
from m
"""


# r11 ANN-accelerated kNN classification: the ann_ivf_index_query
# replay (kmeans_iters=0 centroid seeds, round-6dp assignment and
# ranking) with seeds/assignments drawn from the LABELED slice only,
# probes from the query batch, k=5 / n_probe=4 — then the same
# pinned majority vote over the ANN neighbor frame.
ORACLES["knn_classify_ivf_embeddings"] = f"""
with v0 as (
    select vec_id, embedding::DOUBLE[] as e, label from embeddings
), v as (
    select vec_id, e, label, sqrt({_dot_sql('e', 'e')}) as vn from v0
    where {_dot_sql('e', 'e')} > 0  -- zero-norm excluded (cosine undefined)
      and {_dot_sql('e', 'e')} < 'infinity'::double  -- finite contract
), lab as (
    select vec_id, e, label, vn from v
    where vec_id % 3 <> 0 and label is not null
), cents as (
    select vec_id as cell, e as ce, vn as cn
    from lab order by vec_id limit 16
), rk_a as (
    select l.vec_id as id, c.cell,
           {_dot_sql('l.e', 'c.ce')} / (l.vn * c.cn) as cos
    from lab l, cents c
), assign as (
    select id, cell from (
        select id, cell,
               row_number() over (partition by id
                                  order by round(cos, 6) desc, cell) as r
        from rk_a
    ) where r = 1
), q as (
    select vec_id, e, vn from v where vec_id % 3 = 0
), rk_q as (
    select q.vec_id as id, c.cell,
           {_dot_sql('q.e', 'c.ce')} / (q.vn * c.cn) as cos
    from q, cents c
), probes as (
    select id as query_id, cell from (
        select id, cell,
               row_number() over (partition by id
                                  order by round(cos, 6) desc, cell) as r
        from rk_q
    ) where r <= 4
), scored as (
    select p.query_id, a.id as nbr_id, m.label as lbl,
           {_dot_sql('qq.e', 'm.e')} / (qq.vn * m.vn) as cosine
    from probes p
    join assign a using (cell)
    join q qq on qq.vec_id = p.query_id
    join lab m on m.vec_id = a.id
    where p.query_id <> a.id
), topk as (
    select query_id, nbr_id, lbl,
           row_number() over (partition by query_id
                              order by round(cosine, 6) desc, nbr_id) as rank
    from scored
    qualify rank <= 5
), {_KNN_VOTE}
"""


# r11 decision stump: exhaustive exact split search over two bigint
# doc-stat features, label = is-English, trained on the %3≠0 slice.
# The oracle replays the whole search: per-(feature, value) class
# counts → cumulative left/right counts → majority leaves (tie → 1)
# → misclassification error → pinned argmin (error ASC → feature ASC
# → threshold ASC).
_STUMP_FEATS = f"""
feats as (
    select doc_id,
           cast(n_chars as bigint) as n_chars,
           cast(len({_WORDS}) as bigint) as n_words,
           case when lang is null then null
                when lang = 'en' then 1 else 0 end as y
    from documents
)
"""

_STUMP_TRAIN = f"""
with {_STUMP_FEATS}, longf as (
    select feature, value, y from (
        select y, 'n_chars' as feature, n_chars as value
        from feats where doc_id % 3 <> 0
        union all
        select y, 'n_words' as feature, n_words as value
        from feats where doc_id % 3 <> 0
    ) where y is not null and value is not null
), per_val as (
    select feature, value,
           cast(sum(y) as bigint) as pos,
           cast(sum(1 - y) as bigint) as neg
    from longf group by 1, 2
), cand as (
    select feature, value as threshold,
           cast(sum(pos) over (partition by feature order by value
                rows between unbounded preceding and current row)
                as bigint) as lp,
           cast(sum(neg) over (partition by feature order by value
                rows between unbounded preceding and current row)
                as bigint) as ln,
           cast(sum(pos) over (partition by feature) as bigint) as tp,
           cast(sum(neg) over (partition by feature) as bigint) as tn
    from per_val
), scored as (
    select feature, threshold,
           case when lp >= ln then 1 else 0 end as left_label,
           case when (tp - lp) >= (tn - ln) then 1 else 0 end
             as right_label,
           cast(lp + ln - greatest(lp, ln)
                + (tp - lp) + (tn - ln)
                - greatest(tp - lp, tn - ln) as bigint) as train_error
    from cand
)
select feature, threshold,
       cast(left_label as int) as left_label,
       cast(right_label as int) as right_label,
       train_error
from scored
qualify row_number() over (order by train_error, feature, threshold) = 1
"""

ORACLES["stump_train_docs"] = _STUMP_TRAIN

ORACLES["stump_classify_docs"] = f"""
with stump as (
    select * from ({_STUMP_TRAIN}) s
), {_STUMP_FEATS.strip()}
select f.doc_id,
       cast(case
         when s.feature = 'n_chars' then
           case when f.n_chars is null then null
                when f.n_chars <= s.threshold then s.left_label
                else s.right_label end
         when s.feature = 'n_words' then
           case when f.n_words is null then null
                when f.n_words <= s.threshold then s.left_label
                else s.right_label end
       end as int) as pred
from feats f cross join stump s
where f.doc_id % 3 = 0
"""


# r11 leakage-safe group split: the cc_dedup recursive-CTE components
# give each doc its Jaccard≥0.5 cluster root (singletons = own id),
# then the shared md5-bucket lattice hashes the ROOT — every cluster
# member lands in the same split.
_GSPLIT_BUCKET = _hex2int("md5('gsplit:' || cast(grp as varchar))")

ORACLES["group_split_docs"] = f"""
with recursive pairs as (
    select id_a, id_b from ({_JACCARD_BASE.format(thr=0.5)}) tp
), edges as (
    select id_a as src, id_b as dst from pairs
    union
    select id_b as src, id_a as dst from pairs
), reach(node, lab) as (
    select distinct src, src from edges
    union
    select e.dst, r.lab from edges e join reach r on e.src = r.node
), comp as (
    select node as doc_id, min(lab) as component
    from reach group by node
), grouped as (
    select d.doc_id,
           cast(coalesce(c.component, d.doc_id) as bigint) as grp
    from documents d left join comp c using (doc_id)
)
select doc_id, grp,
       cast(({_GSPLIT_BUCKET}) % 10000 as bigint) as bucket,
       case when ({_GSPLIT_BUCKET}) % 10000 < 9000 then 'train'
            when ({_GSPLIT_BUCKET}) % 10000 < 9500 then 'val'
            else 'test' end as split
from grouped
"""


# r11 classifier summary: the classifier_eval per-class lattice rolled
# into one row — micro accuracy (Σtp·1e6 div Σn_gold; Σn_gold =
# n_scored since each scored id has exactly one gold class) and
# macro P/R/F1 (floor-div mean of the per-class micro values over the
# union class set).
ORACLES["classifier_summary_docs"] = f"""
with m as (
  select * from ({ORACLES["classifier_eval_docs"]}) cm
)
select cast(coalesce(sum(n_gold), 0) as bigint) as n_scored,
       cast(count(*) as bigint) as n_classes,
       cast(case when coalesce(sum(n_gold), 0) = 0 then 0
                 else (sum(tp) * 1000000) // sum(n_gold) end as bigint)
         as accuracy_micro,
       cast(case when count(*) = 0 then 0
                 else sum(precision_micro) // count(*) end as bigint)
         as macro_precision_micro,
       cast(case when count(*) = 0 then 0
                 else sum(recall_micro) // count(*) end as bigint)
         as macro_recall_micro,
       cast(case when count(*) = 0 then 0
                 else sum(f1_micro) // count(*) end as bigint)
         as macro_f1_micro
from m
"""


# r11 HTML→text extraction: the gate wraps each doc in deterministic
# markup (style block on even ids, script with JS content, comment,
# double-escaped entities), and the oracle replays the identical
# regexp/replace chain — blocks-with-content first, tag count on the
# block-stripped intermediate, tags → spaces, entities with &amp;
# LAST, whitespace collapse.  NULL text propagates NULL throughout
# (|| and regexp on NULL are NULL on both engines).
ORACLES["strip_html_docs"] = r"""
with h as (
    select doc_id,
           (case when doc_id % 2 = 0
                 then '<style>p { color: red }</style>' else '' end)
           || '<div class="d"><p>' || text
           || '</p>' || chr(10)
           || '<script type="t">var x = 1 &lt; 2;</script>'
           || '<!-- hidden -->&amp;amp; &quot;q&#39;s&quot;&nbsp;<br/></div>'
             as html
    from documents
), s1 as (
    -- explicit case classes + ASCII whitespace class (NOT (?i)/\s):
    -- RE2 case-folds Unicode under (?i) and excludes \x0B from \s
    -- where Java does the opposite (code-review finding)
    select doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(html,
                 '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
               '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g') as t
    from h
), s2 as (
    select doc_id,
           cast(len(regexp_extract_all(t, '<[^>]*>')) as bigint) as n_tags,
           regexp_replace(t, '<[^>]*>', ' ', 'g') as t2
    from s1
), s3 as (
    select doc_id, n_tags,
           replace(replace(replace(replace(replace(replace(
             t2, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') as t3
    from s2
)
select doc_id,
       trim(regexp_replace(t3, '[ \t\n\x0B\f\r]+', ' ', 'g')) as text_clean,
       n_tags
from s3
"""


# r11 integer PageRank: the Jaccard≥0.5 pair graph symmetrized, nodes
# = all documents, 3 sweeps at d=850000 micro with floor division —
# the oracle is an exact per-sweep unroll (give = pr // out_deg;
# pr' = 150000 + (850000 · Σ give) // 1e6; dangling mass evaporates).
# HUGEINT carries the damped product exactly, mirroring the Spark
# side's decimal(38,0).
ORACLES["pagerank_docs"] = f"""
with pairs as (
    select id_a, id_b from ({_JACCARD_BASE.format(thr=0.5)}) tp
), edges as (
    select id_a as s, id_b as d from pairs
    union all
    select id_b as s, id_a as d from pairs
), nodes as (
    select doc_id as node from documents
), deg as (
    select s, cast(count(*) as bigint) as dg from edges group by s
), ewd as (
    select e.s, e.d, deg.dg from edges e join deg using (s)
), pr0 as (
    select node, cast(1000000 as bigint) as pr from nodes
), c1 as (
    select ewd.d as node, sum(pr // dg) as s_in
    from ewd join pr0 on ewd.s = pr0.node group by 1
), pr1 as (
    select n.node,
           cast(150000 + (850000 * coalesce(s_in, 0)) // 1000000
                as bigint) as pr
    from nodes n left join c1 using (node)
), c2 as (
    select ewd.d as node, sum(pr // dg) as s_in
    from ewd join pr1 on ewd.s = pr1.node group by 1
), pr2 as (
    select n.node,
           cast(150000 + (850000 * coalesce(s_in, 0)) // 1000000
                as bigint) as pr
    from nodes n left join c2 using (node)
), c3 as (
    select ewd.d as node, sum(pr // dg) as s_in
    from ewd join pr2 on ewd.s = pr2.node group by 1
), pr3 as (
    select n.node,
           cast(150000 + (850000 * coalesce(s_in, 0)) // 1000000
                as bigint) as pr
    from nodes n left join c3 using (node)
)
select node as doc_id, pr as pagerank_micro from pr3
"""


# r11 personalized PageRank: same exact 3-sweep unroll as
# pagerank_docs with the teleport confined to the doc_id%10=0 seed
# set — seeds start at 1e6 and carry the 150000 restart term;
# non-seeds start at 0 and earn mass only through in-edges.
def _ppr_sweep(prev: str, out: str) -> str:
    return f"""c_{out} as (
    select ewd.d as node, sum(pr // dg) as s_in
    from ewd join {prev} on ewd.s = {prev}.node group by 1
), {out} as (
    select n.node,
           cast((case when n.node % 10 = 0 then 150000 else 0 end)
                + (850000 * coalesce(s_in, 0)) // 1000000
                as bigint) as pr
    from nodes n left join c_{out} using (node)
)"""


ORACLES["ppr_docs"] = f"""
with pairs as (
    select id_a, id_b from ({_JACCARD_BASE.format(thr=0.5)}) tp
), edges as (
    select id_a as s, id_b as d from pairs
    union all
    select id_b as s, id_a as d from pairs
), nodes as (
    select doc_id as node from documents
), deg as (
    select s, cast(count(*) as bigint) as dg from edges group by s
), ewd as (
    select e.s, e.d, deg.dg from edges e join deg using (s)
), pr0 as (
    select node,
           cast(case when node % 10 = 0 then 1000000 else 0 end
                as bigint) as pr
    from nodes
), {_ppr_sweep('pr0', 'pr1')}, {_ppr_sweep('pr1', 'pr2')},
   {_ppr_sweep('pr2', 'pr3')}
select node as doc_id, pr as pagerank_micro from pr3
"""


# r11 leakage-safe k-fold: the group_split components lattice with
# fold = md5('gfold:' || root) % 10000 % 5.
_GFOLD_BUCKET = _hex2int("md5('gfold:' || cast(grp as varchar))")

ORACLES["group_kfold_docs"] = f"""
with recursive pairs as (
    select id_a, id_b from ({_JACCARD_BASE.format(thr=0.5)}) tp
), edges as (
    select id_a as src, id_b as dst from pairs
    union
    select id_b as src, id_a as dst from pairs
), reach(node, lab) as (
    select distinct src, src from edges
    union
    select e.dst, r.lab from edges e join reach r on e.src = r.node
), comp as (
    select node as doc_id, min(lab) as component
    from reach group by node
), grouped as (
    select d.doc_id,
           cast(coalesce(c.component, d.doc_id) as bigint) as grp
    from documents d left join comp c using (doc_id)
)
select doc_id, grp,
       cast((({_GFOLD_BUCKET}) % 10000) % 5 as int) as fold
from grouped
"""


# r11 streaming kNN classification serving: the per-query vote is
# request-row-local, so the drained foreachBatch union equals the
# one-shot ANN-served classification under any micro-batch split —
# the oracle IS the knn_classify_ivf replay.
ORACLES["streaming_knn_serve_embeddings"] = \
    ORACLES["knn_classify_ivf_embeddings"]


# r11 per-source dataset-card profile: exact integer volume / length
# / exact-dup / language-mix statistics per source; top_lang ties →
# lang ASC; a NULL source groups alone and takes a NULL top_lang via
# standard (non-null-safe) join semantics on both engines.
ORACLES["corpus_profile_docs"] = """
with per_source as (
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(count(text) as bigint) as n_texts,
           cast(coalesce(sum(length(text)), 0) as bigint)
             as n_chars_total,
           cast(count(distinct md5(text)) as bigint)
             as n_distinct_texts,
           cast(count(distinct lang) as bigint) as n_langs
    from documents group by source
), ext as (
    select *,
           cast(case when n_texts = 0 then 0
                     else n_chars_total // n_texts end as bigint)
             as mean_chars,
           cast(case when n_texts = 0 then 0
                     else ((n_texts - n_distinct_texts) * 1000000)
                          // n_texts end as bigint) as dup_rate_micro
    from per_source
), lc as (
    select source, lang as top_lang, count(*) as _n
    from documents where lang is not null group by 1, 2
), top as (
    select source, top_lang from (
        select source, top_lang,
               row_number() over (partition by source
                                  order by _n desc, top_lang) as _r
        from lc
    ) where _r = 1
)
select e.source, e.n_docs, e.n_texts, e.n_chars_total, e.mean_chars,
       e.n_distinct_texts, e.dup_rate_micro, e.n_langs, t.top_lang
from ext e left join top t on e.source = t.source
"""


# r11 nearest-centroid (Rocchio) classification: integer-exact replay
# — fixed-point floor(x·1000+0.5) quantization, TRUNCATED
# per-position prototype means (Spark `div` and DuckDB `//` both
# truncate toward zero — verified), bigint squared-L2 serving,
# ties → distance ASC then label ASC.  Empty vectors keep the fold's
# init-0 finiteness (coalesce) and contribute no positions on either
# engine.
ORACLES["centroid_classify_embeddings"] = """
with v as (
  select vec_id, label,
         list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
), f as (
  select vec_id, label, e from v
  where coalesce(list_max(list_transform(e, x -> abs(x))), 0)
        < 'infinity'::double
), q0 as (
  select vec_id, label,
         list_transform(e, x -> cast(floor(x * 1000 + 0.5) as bigint))
           as q
  from f
), lab_long as (
  select label as lbl,
         unnest(generate_series(0, len(q) - 1)) as pos,
         unnest(q) as qv
  from q0 where vec_id % 3 <> 0 and label is not null
), protos as (
  select lbl, pos, cast(sum(qv) // count(*) as bigint) as pv
  from lab_long group by 1, 2
), q_long as (
  select vec_id as query_id,
         unnest(generate_series(0, len(q) - 1)) as pos,
         unnest(q) as qv
  from q0 where vec_id % 3 = 0
), scored as (
  select query_id, lbl, sum((qv - pv) * (qv - pv)) as d2
  from q_long join protos using (pos)
  group by 1, 2
)
select query_id, lbl as pred_label from scored
qualify row_number() over (partition by query_id
                           order by d2, lbl) = 1
"""

