"""Deterministic sharded training-data sink."""

import glob
import os
from _slowmark import _mark_slow  # noqa: E402


@_mark_slow
def test_write_training_shards_fixed_count_and_deterministic(spark, sf_dir, tmp_path):
    import __spark_entry__ as em
    from dbt_core_spark.sources.writers import write_training_shards

    docs = em._t(spark, sf_dir, "documents").select("doc_id", "text")
    p1 = str(tmp_path / "shards1")
    p2 = str(tmp_path / "shards2")
    write_training_shards(docs, p1, n_shards=8, shard_key="doc_id",
                          sort_by=["doc_id"])
    # different input partitioning, same assignment
    write_training_shards(docs.repartition(3), p2, n_shards=8,
                          shard_key="doc_id", sort_by=["doc_id"])
    d1 = sorted(glob.glob(os.path.join(p1, "shard=*")))
    d2 = sorted(glob.glob(os.path.join(p2, "shard=*")))
    assert len(d1) == 8 and len(d2) == 8
    for d in d1 + d2:  # exactly one data file per shard dir
        assert len(glob.glob(os.path.join(d, "part-*"))) == 1
    # shard membership is a pure function of the key: matching dirs
    # hold the same doc_ids in the same order regardless of input layout
    for a, b in zip(d1, d2):
        ids_a = [r["doc_id"] for r in spark.read.parquet(a).collect()]
        ids_b = [r["doc_id"] for r in spark.read.parquet(b).collect()]
        assert ids_a == ids_b and ids_a == sorted(ids_a)
    total = sum(spark.read.parquet(d).count() for d in d1)
    assert total == docs.count()


def test_write_training_shards_one_file_per_shard_dir(spark, tmp_path):
    """Quick-tier cut of the layout check above: 200 rows into 16 shards
    with AQE partition coalescing left on.  A ``repartition(n, col)`` is
    never coalesced, so every ``shard=K`` dir gets exactly one file."""
    from pyspark.sql import functions as F

    from dbt_core_spark.sources.writers import write_training_shards

    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    assert spark.conf.get(aqe) == "true"
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text"))
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=16)
    dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
    assert len(dirs) == 16
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "part-*"))) == 1, d
    assert spark.read.parquet(path).count() == 200
    assert spark.conf.get(aqe) == "true"


def test_webdataset_shards_roundtrip_and_byte_stable(tmp_path, spark):
    """WebDataset tar sink: sample grouping (<key>.json + <key>.bin),
    key-sorted order within shards, and byte-identical re-runs."""
    import hashlib
    import json
    import os
    import tarfile

    from dbt_core_spark.sources.writers import write_webdataset_shards

    rows = [(i, f"src{i % 3}", bytes([i % 256]) * (i + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, payload binary")

    def write(to):
        write_webdataset_shards(
            df, str(to), n_shards=4, key_col="doc_id",
            payload_col="payload", meta_cols=["doc_id", "source"],
        )
        return sorted(os.listdir(to))

    d1, d2 = tmp_path / "a", tmp_path / "b"
    names = write(d1)
    assert write(d2) == names and len(names) == 4
    assert names[0] == "shard-000000.tar"

    seen = set()
    for name in names:
        # byte-stable: identical hashes across the two runs
        h1 = hashlib.sha256((d1 / name).read_bytes()).hexdigest()
        h2 = hashlib.sha256((d2 / name).read_bytes()).hexdigest()
        assert h1 == h2
        with tarfile.open(d1 / name) as tf:
            members = tf.getnames()
            # consecutive pairs: key.json then key.bin, keys ascending
            keys = [m[:-5] for m in members if m.endswith(".json")]
            assert keys == sorted(keys, key=int)
            for k in keys:
                assert f"{k}.bin" in members
                meta = json.load(tf.extractfile(f"{k}.json"))
                assert meta["doc_id"] == int(k) and meta["source"].startswith("src")
                payload = tf.extractfile(f"{k}.bin").read()
                assert payload == bytes([int(k) % 256]) * (int(k) + 1)
                seen.add(int(k))
    assert seen == set(range(40))  # every sample in exactly one shard


def test_webdataset_reader_roundtrip(tmp_path, spark):
    import json

    from dbt_core_spark.sources.writers import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    rows = [(i, f"s{i}", bytes([65 + i % 26]) * 3) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, payload binary")
    write_webdataset_shards(df, str(tmp_path / "wd"), n_shards=3,
                            key_col="doc_id", payload_col="payload",
                            meta_cols=["doc_id", "source"])
    back = read_webdataset_shards(spark, str(tmp_path / "wd")).collect()
    assert len(back) == 20
    got = {int(r["key"]): (json.loads(r["meta"]), bytes(r["payload"]))
           for r in back}
    assert got[7] == ({"doc_id": 7, "source": "s7"}, b"HHH")
    assert {r["shard"] for r in back} <= {0, 1, 2}


def test_webdataset_caller_owned_shard_col(spark, tmp_path):
    """shard_col overrides the xxhash64 assignment with an upstream
    shard id (e.g. epoch_shuffle's) — tar membership must follow it
    exactly, and readback round-trips."""
    from dbt_core_spark.sources.writers import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    df = spark.createDataFrame(
        [(i, i % 3, f"payload-{i}".encode()) for i in range(30)],
        "doc_id long, myshard int, payload binary",
    )
    path = str(tmp_path / "wds_shardcol")
    write_webdataset_shards(
        df, path, n_shards=3, key_col="doc_id", payload_col="payload",
        meta_cols=["doc_id"], shard_col="myshard",
    )
    rb = read_webdataset_shards(spark, path)
    got = {(r["shard"], r["key"]) for r in rb.collect()}
    assert got == {(i % 3, str(i)) for i in range(30)}
    payloads = {r["key"]: bytes(r["payload"]) for r in rb.collect()}
    assert payloads["7"] == b"payload-7"
