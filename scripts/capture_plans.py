"""Dump .explain("formatted") for named gates to
$SPARK_GRAFT_PLANS_DIR/<name>_<tag>.txt (default directory: plans/).

Usage:
  PYTHONPATH=/root/repo python3 scripts/capture_plans.py <tag> [query ...]

tag is e.g. "before" or "after".  Names resolve through queries().
Streaming-serve gates are captured via the on_batch_result diagnostics
hook (the inner per-batch serving plan, from an actually-drained
micro-batch — foreachBatch hides it from a naive EXPLAIN); the file then
carries the FIRST drained batch's plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from dbt_core_spark.session import get_spark
from dbt_core_spark.streaming import structured as _structured

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STREAMING = {
    "streaming_bm25_serve_docs",
    "streaming_ann_serve_embeddings",
    "streaming_knn_serve_embeddings",
}
OUT_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", "plans")


def fmt(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(
        app_name="capture_plans",
        extra_conf={"spark.sql.warehouse.dir": f"/tmp/plans_wh_{os.getpid()}"},
    )
    entrymod._reg(spark, SF_DIR)
    qs = entrymod.queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        fn = qs[name]
        if name in STREAMING:
            captured: list[str] = []
            _structured._ON_BATCH_RESULT = (
                lambda result, batch_id: captured.append(fmt(result))
                if not captured else None)
            try:
                fn(spark, SF_DIR).count()
            finally:
                _structured._ON_BATCH_RESULT = None
            plan = captured[0] if captured else "(no batch drained)"
            plan = ("-- inner per-batch serving plan (first drained "
                    "micro-batch; foreachBatch hides it from EXPLAIN)\n"
                    + plan)
        else:
            plan = fmt(fn(spark, SF_DIR))
        out = f"{OUT_DIR}/{name}_{tag}.txt"
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
