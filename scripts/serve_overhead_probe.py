"""Streaming-serve cost split probe (r10 verdict, What's wrong #2):
the serve gates' headline wall is dominated by FIXED foreachBatch
trigger/checkpoint cost at toy scale, which can hide a regression in
the data-proportional part.  This probe separates the two directly:
the SAME request set is served under a 1-batch split and an N-batch
split (maxFilesPerTrigger) — identical total rows, identical standing
index, so

    per_batch_overhead ≈ (wall_N − wall_1) / (N − 1)
    data_cost          ≈ wall_1 − per_batch_overhead − t_setup

where t_setup (index build + stream/source listing) is measured by a
0-row serve (a filter no request matches).  Every batch is served as
``streaming_ann_serve_embeddings`` serves it: ``ivf_index_search``
with the centroid matrix collected once per index snapshot, which
picks the broadcast serve for any batch within its cap
(``max_cell_rows`` rows and ``_BROADCAST_BYTES`` of vectors).  Run
per-round alongside bench.py; a rise in `data_cost` is a real serving
regression even when total wall sits inside the trigger-noise floor.

Usage: PYTHONPATH=/root/repo python3 scripts/serve_overhead_probe.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_core_spark.operators.similarity import (  # noqa: E402
    ivf_centroid_matrix,
    ivf_index_build,
    ivf_index_search,
)
from dbt_core_spark.session import get_spark  # noqa: E402
from dbt_core_spark.streaming.structured import (  # noqa: E402
    stream_serve_foreach_batch,
    stream_source,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def serve_once(spark, src, schema, cents, assigns, cmat, files_per_trigger,
               predicate) -> tuple[float, int, int]:
    work = tempfile.mkdtemp(prefix="serve_probe_")
    stream = stream_source(
        spark, src, schema, fmt="parquet",
        options={"maxFilesPerTrigger": str(files_per_trigger)},
    )
    batches: list[int] = []
    t0 = time.time()
    stream_serve_foreach_batch(
        stream.filter(predicate),
        lambda b: ivf_index_search(cents, assigns, b, k=3, n_probe=4,
                                   centroid_matrix=cmat),
        f"{work}/out", f"{work}/ckpt",
        on_batch_result=lambda r, bid: batches.append(bid),
    )
    wall = time.time() - t0
    n = (spark.read.parquet(f"{work}/out").count()
         if os.path.isdir(f"{work}/out") else 0)
    return wall, len(batches), n


def main() -> None:
    import __spark_entry__ as em

    spark = get_spark(
        app_name="serve_overhead_probe",
        extra_conf={"spark.sql.warehouse.dir": "/tmp/serve_probe_wh"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    src = em._embs_stream_path(spark, SF_DIR)
    schema = spark.read.parquet(src).schema
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, assigns = ivf_index_build(emb, n_cells=16, kmeans_iters=0)
    assigns = assigns.localCheckpoint(eager=True)
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])

    # the gate's serve: the centroid matrix once per index snapshot
    cmat = ivf_centroid_matrix(cents)
    # warm one full serve so JVM/stream codepaths don't bias batch 1
    serve_once(spark, src, schema, cents, assigns, cmat, n_files,
               "vec_id % 20 = 0")

    w_setup, b_setup, _ = serve_once(
        spark, src, schema, cents, assigns, cmat, n_files, "vec_id < 0")
    w_one, b_one, rows1 = serve_once(
        spark, src, schema, cents, assigns, cmat, n_files, "vec_id % 20 = 0")
    w_many, b_many, rows_n = serve_once(
        spark, src, schema, cents, assigns, cmat, 1, "vec_id % 20 = 0")
    assert rows1 == rows_n, (rows1, rows_n)
    per_batch = (w_many - w_one) / max(b_many - b_one, 1)
    data_cost = w_one - per_batch * b_one - max(
        w_setup - per_batch * b_setup, 0)
    print(
        f"files={n_files} rows_served={rows1} | "
        f"setup(0-row, {b_setup} batches)={w_setup:.2f}s | "
        f"1-split ({b_one} batches)={w_one:.2f}s | "
        f"N-split ({b_many} batches)={w_many:.2f}s | "
        f"per_batch_overhead={per_batch:.2f}s | "
        f"data_cost≈{data_cost:.2f}s"
    )


if __name__ == "__main__":
    main()
