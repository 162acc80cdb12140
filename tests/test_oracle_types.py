"""Oracle type-discipline lint (VERDICT r4 item 1).

The driver's value hash is type-tagged, so a DuckDB output column whose
arrow type Spark cannot produce (HUGEINT → decimal128(38,0) from a bare
``sum(bigint)``, or any other DECIMAL promotion) hash-mismatches even at
equal values.  Rather than regex-parsing the SQL for uncast top-level
aggregates, this lint runs EVERY oracle on DuckDB at sf0.001 and rejects
any decimal/hugeint output column — the semantic superset of the textual
rule (it also catches ``bigint * 1.953125`` DECIMAL promotion, which a
`sum(`-grep would miss; that exact bug lived in quantile_sketch_events).

Intentional-decimal oracles would go in ALLOWED_DECIMAL below; there are
none today because the Spark side works exclusively in int64/double.

DuckDB-only, so the whole registry lints in about a minute on 4 cores:
quick tier.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pytest

from oracles import ORACLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

ALLOWED_DECIMAL: dict[str, set[str]] = {}


def _offending(t: pa.DataType) -> bool:
    if pa.types.is_decimal(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _offending(t.value_type)
    return False


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            c.execute(f"create view {t} as select * from '{path}'")
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_no_decimal_outputs(con, name):
    if not os.path.exists(f"{SF_DIR}/region.parquet"):
        pytest.skip("testdata not present")
    tbl = con.execute(ORACLES[name]).fetch_arrow_table()
    bad = [
        (f.name, str(f.type))
        for f in tbl.schema
        if _offending(f.type) and f.name not in ALLOWED_DECIMAL.get(name, set())
    ]
    assert not bad, (
        f"oracle {name!r} emits decimal-typed columns {bad}; the driver's "
        f"type-tagged hash will mismatch Spark's int64/double — cast the "
        f"aggregate (e.g. cast(sum(...) as bigint)) per the repo convention"
    )

