"""Training-data sinks: deterministic sharded output.

The last stage of a corpus pipeline writes a training-ready dataset as
a FIXED number of shards with stable doc→shard assignment — data
loaders address shards by index, resuming training needs byte-stable
files, and shard counts must not drift with cluster size or AQE
decisions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    shard_key: str = "doc_id",
    sort_by: Optional[list[str]] = None,
    file_format: str = "parquet",
    partition_by: Optional[list[str]] = None,
) -> None:
    """Write exactly ``n_shards`` files (per partition dir if
    ``partition_by`` is set), sharded by ``pmod(xxhash64(key), n)`` —
    the assignment is a pure function of the key, so reruns, different
    cluster sizes, and different input partitionings produce identical
    shard membership.

    Layout: ``path/shard=K/part-*`` with exactly ONE file per shard
    directory.  Each row's shard value lives in exactly one task
    partition (clustered on the shard column), so every ``shard=K`` dir
    receives a single file even when the murmur task-mapping co-locates
    two shard values in one task.  ``sort_by`` orders rows inside each
    shard file (stable reader order + parquet row-group stats).
    ``partition_by`` adds user partition dirs ABOVE the shard level."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    out = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(shard_key)), F.lit(n_shards))
    )
    cluster = [*(partition_by or []), "shard"]
    out = out.repartition(n_shards, *[F.col(c) for c in cluster])
    order = [F.col(c) for c in cluster] + [F.col(c) for c in (sort_by or [shard_key])]
    out = out.sortWithinPartitions(*order)
    out.write.format(file_format).mode("overwrite").partitionBy(
        *(partition_by or []), "shard"
    ).save(path)


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    key_col: str = "doc_id",
    payload_col: Optional[str] = None,
    meta_cols: Optional[list[str]] = None,
    shard_col: Optional[str] = None,
) -> None:
    """WebDataset-style sharded tar sink (public format: tar archives
    where a sample is consecutive entries sharing a basename —
    ``<key>.json`` sidecar + optional ``<key>.bin`` payload; shards
    named ``shard-%06d.tar``).  The loader-native layout for multimodal
    training data: samples stream sequentially per shard, shards are
    the unit of parallelism/resume.

    Determinism contract (byte-stable files, same as
    ``write_training_shards``): shard = ``pmod(xxhash64(key), n)`` —
    a pure function of the key; samples sorted by key within each
    shard; tar entry mtime/uid/gid pinned to 0; JSON sidecars use
    sorted keys.  Re-runs at any cluster size produce identical bytes.

    ``shard_col`` overrides the hash assignment with a caller-owned
    shard id column (values must lie in ``[0, n_shards)``) — training
    pipelines often need the loader's shard layout to be a specific
    upstream assignment (e.g. ``epoch_shuffle``'s md5 shard, which is
    also SQL-derivable for end-to-end oracle checks).  A shard with no
    rows writes no tar (loaders tolerate missing indices).

    Scale shape: one repartition on the shard column (exactly
    ``n_shards`` tasks: AQE never coalesces a ``repartition(n, col)``),
    sortWithinPartitions, then each task streams its shard(s) straight
    into tar files — no driver-side collection.  ``path`` must be storage every executor
    can write (local dir in tests; a mounted shared/object store on a
    cluster)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    meta_cols = meta_cols or [
        c for c in df.columns if c not in (payload_col,)
    ]
    cols = list({key_col, *meta_cols,
                 *([payload_col] if payload_col else []),
                 *([shard_col] if shard_col else [])})
    shard_expr = (
        F.col(shard_col).cast("bigint") if shard_col
        else F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )
    out = (
        df.select(*cols)
        .withColumn("shard", shard_expr)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions(F.col("shard"), F.col(key_col))
    )

    def write_partition(rows):
        import io
        import json as _json
        import os
        import tarfile

        cur, tf = None, None
        for row in rows:
            sh = row["shard"]
            if sh != cur:
                if tf is not None:
                    tf.close()
                os.makedirs(path, exist_ok=True)
                tf = tarfile.open(
                    os.path.join(path, f"shard-{sh:06d}.tar"), "w"
                )
                cur = sh

            def add(name: str, data: bytes) -> None:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                ti.mtime = 0  # byte-stable across reruns
                tf.addfile(ti, io.BytesIO(data))

            base = str(row[key_col])
            meta = {c: row[c] for c in meta_cols}
            add(f"{base}.json",
                _json.dumps(meta, sort_keys=True, default=str).encode())
            if payload_col is not None and row[payload_col] is not None:
                add(f"{base}.bin", bytes(row[payload_col]))
        if tf is not None:
            tf.close()

    out.foreachPartition(write_partition)


def read_webdataset_shards(spark, path: str):
    """Read ``write_webdataset_shards`` output back into a DataFrame of
    (shard, key, meta, payload) — meta as the raw JSON sidecar string,
    payload as binary (null when the sample had none).

    Scale shape: ``binaryFile`` source lists/reads one tar per task
    (a shard is the loader's unit of parallelism too) and an Arrow
    ``mapInPandas`` streams entries out — no driver-side tar handling.
    Sample pairing relies on the writer's contract: entries are
    key-sorted with the ``.json`` sidecar preceding its ``.bin``."""
    import io
    import os
    import tarfile

    import pandas as pd

    def parse(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                shard = int(
                    os.path.basename(row["path"]).split("-")[1].split(".")[0]
                )
                out: dict[str, tuple] = {}
                with tarfile.open(fileobj=io.BytesIO(row["content"])) as tf:
                    for m in tf.getmembers():
                        base, ext = m.name.rsplit(".", 1)
                        data = tf.extractfile(m).read()
                        meta, payload = out.get(base, (None, None))
                        if ext == "json":
                            meta = data.decode()
                        else:
                            payload = data
                        out[base] = (meta, payload)
                yield pd.DataFrame(
                    [(shard, k, m, p) for k, (m, p) in sorted(out.items())],
                    columns=["shard", "key", "meta", "payload"],
                )

    import glob as _glob
    from urllib.parse import urlparse

    schema = "shard int, key string, meta string, payload binary"
    is_local = urlparse(path).scheme in ("", "file")
    if is_local and not _glob.glob(os.path.join(path, "shard-*.tar")):
        # an empty corpus writes zero shards; binaryFile would throw
        # PATH_NOT_FOUND on the unmatched glob (gate-fuzz finding).
        # Only short-circuit for LOCAL paths, where glob is authoritative;
        # for remote URIs (s3://, hdfs://) glob always returns [] and the
        # empty frame would silently mask real shards — let binaryFile
        # list (and, on a genuinely empty prefix, raise).
        return spark.createDataFrame([], schema)
    return (
        spark.read.format("binaryFile")
        .load(os.path.join(path, "shard-*.tar"))
        .select("path", "content")
        .mapInPandas(parse, schema=schema)
    )
