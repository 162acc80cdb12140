"""Driver-gate rehearsal: run every queries() entry on Spark AND its
oracle_sql() on DuckDB over the same parquet, compare row-count, schema
(column names), exact sorted values, AND arrow-level type families — the
same bar as CORRECTNESS_r{N}.json.

The type-family leg exists because the driver's value hash is
type-tagged: a DuckDB HUGEINT (sum of BIGINT uncast) hashes differently
from Spark's int64 even at equal values, while a plain Python
`int == int` compare passes.  That exact gap made range_join_events
driver-red in r4 despite a green local rehearsal (VERDICT r4 §wrong #1).

Usage: PYTHONPATH=/root/repo python3 scripts/validate_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from dbt_core_spark.session import get_spark

TABLES = entrymod.TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from '{path}'")
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def arrow_family(t) -> str:
    """Collapse a pyarrow type to the family the driver's type-tagged
    hash distinguishes.  Calibrated against r2–r4 driver records:
    integer WIDTHS are interchangeable (int32 `rank` vs DuckDB's int64
    row_number hashed equal in green rows) but DECIMAL ≠ int (HUGEINT
    from an uncast sum(bigint) hash-failed range_join_events in r4)."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_family(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    return str(t)


def spark_family(dt: str) -> str:
    """Collapse a Spark simpleString dtype to the same family space."""
    m = {"bigint": "int", "int": "int", "smallint": "int",
         "tinyint": "int", "double": "float", "float": "float",
         "string": "str", "boolean": "bool", "date": "date",
         "timestamp": "timestamp", "timestamp_ntz": "timestamp",
         "binary": "binary"}
    if dt in m:
        return m[dt]
    if dt.startswith("array<") and dt.endswith(">"):
        return f"list<{spark_family(dt[6:-1])}>"
    if dt.startswith("decimal"):
        return dt.replace(" ", "")
    if dt.startswith("struct<"):
        return "struct"
    return dt


def compare(name: str, spark, con, sf_dir: str, fn, sql: str) -> tuple[bool, str]:
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    scols = list(sdf.columns)
    stypes = dict(sdf.dtypes)
    srows = [tuple(r) for r in sdf.collect()]
    t_spark = time.time() - t0
    t0 = time.time()
    tbl = con.execute(sql).fetch_arrow_table()
    dcols = list(tbl.column_names)
    dtypes = {f.name: f.type for f in tbl.schema}
    drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]
    t_duck = time.time() - t0

    if sorted(scols) != sorted(dcols):
        return False, f"SCHEMA spark={sorted(scols)} duck={sorted(dcols)}"
    type_mism = [
        (c, spark_family(stypes[c]), arrow_family(dtypes[c]))
        for c in scols
        if spark_family(stypes[c]) != arrow_family(dtypes[c])
    ]
    if type_mism:
        return False, f"TYPES (spark vs duck-arrow) {type_mism}"
    if len(srows) != len(drows):
        return False, f"ROWCOUNT spark={len(srows)} duck={len(drows)}"
    ns, nd = normalize(srows, scols), normalize(drows, dcols)
    mism = [(a, b) for a, b in zip(ns, nd) if a != b]
    if mism:
        return False, f"VALUES {len(mism)}/{len(ns)} differ; first: {mism[0]}"
    return True, f"{len(srows)} rows  spark={t_spark:.1f}s duck={t_duck:.1f}s"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # argv footgun guards: `validate_oracles.py --sf <dir>` once ran 0
    # queries and printed a VACUOUS 166/166 (the flag became sf_dir and
    # the dir became a name filter matching nothing) — fail loudly on
    # both halves instead
    if not os.path.isdir(sf_dir):
        print(f"ERROR: sf_dir {sf_dir!r} is not a directory "
              "(usage: validate_oracles.py [SF_DIR] [QUERY ...])")
        return 2
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query filter(s): {sorted(unknown)}")
        return 2
    spark = get_spark(
        app_name="oracle_validate",
        extra_conf={"spark.sql.warehouse.dir": f"/tmp/oracle_wh_{os.getpid()}"},
    )
    con = duck_connect(sf_dir)
    import gc

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # let the ContextCleaner unpersist earlier queries' sealed
        # localCheckpoint RDDs (same session-accumulation fix as
        # bench.py — late queries otherwise pay GC pressure)
        gc.collect()
        try:
            ok, msg = compare(name, spark, con, sf_dir, fn, oracles[name])
        except Exception as e:
            import traceback

            ok, msg = False, f"ERROR {type(e).__name__}: {str(e)[:300]}\n{traceback.format_exc(limit=5)}"
        print(f"  {'✓' if ok else '✗'} {name}: {msg}")
        if not ok:
            failures.append(name)
    ran = len([n for n in qs if not only or n in only])
    print(f"\n{ran - len(failures)}/{ran} OK"
          + (f" ({len(qs) - ran} filtered out)" if only else "")
          + f"; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
