"""Output checks: Spark relations against DuckDB over the same parquet.

Row normalization is ``scripts/validate_oracles.py``'s (imported, so the
benchmark and the oracle rehearsal apply one rule); decimals are
normalized first so an equal value at a different scale compares equal
and sorts the same on both sides.
"""

from __future__ import annotations

import decimal
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import validate_oracles  # noqa: E402


def _canon(rows: list[tuple]) -> list[tuple]:
    return [tuple(v.normalize() if isinstance(v, decimal.Decimal) else v
                  for v in r) for r in rows]


def rows_match(got: list[tuple], got_cols: list[str], want: list[tuple],
               want_cols: list[str]) -> tuple[bool, str]:
    """Same column names and the same multiset of rows."""
    if sorted(got_cols) != sorted(want_cols):
        return False, f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != {len(want)}"
    a = validate_oracles.normalize(_canon(got), got_cols)
    b = validate_oracles.normalize(_canon(want), want_cols)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    if bad:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return False, f"{bad}/{len(a)} rows differ; first {first}"
    return True, f"{len(a)} rows"


def check_relation(spark, con, rel: str, select: str, duck_sql: str
                   ) -> tuple[bool, str]:
    sdf = spark.sql(f"select {select} from {rel}")
    got = [tuple(r) for r in sdf.collect()]
    cur = con.execute(duck_sql)
    want_cols = [d[0] for d in cur.description]
    return rows_match(got, list(sdf.columns), cur.fetchall(), want_cols)


def check_gate(name: str, spark, con, data_dir: str, df, oracle: str
               ) -> tuple[bool, str]:
    """The oracle rehearsal's own comparison (columns, type families,
    exact sorted values) applied to an already-built gate DataFrame."""
    return validate_oracles.compare(name, spark, con, data_dir,
                                    lambda *_: df, oracle)
