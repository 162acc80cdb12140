"""Relation (table/view) management against the Spark catalog.

No relation cache (the reference fills one per run, ref:
task/runnable.py:460-486): "does it exist, view or table?" is one
in-process ``catalog.getTable`` lookup that launches no Spark job, so
there is no state to invalidate on create, drop or rename.  Replacement
is the reference's rename/swap (atomic-replace tests
tests/functional/materializations/test_runtime_materialization.py).

Local/test format is **parquet** with a drop+rename swap; on a real
cluster the same call sites would use Delta/Iceberg `CREATE OR REPLACE
TABLE` for true atomicity — the strategy layer above is format-agnostic.
"""

from __future__ import annotations

import shutil
import threading
from contextlib import contextmanager
from typing import Iterator, Optional
from urllib.parse import urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def ensure_database(spark: SparkSession, db: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")


def relation_exists(spark: SparkSession, rel: str) -> bool:
    return spark.catalog.tableExists(rel)


def relation_type(spark: SparkSession, rel: str) -> Optional[str]:
    """'table' | 'view' | None; temporary views count as 'table'."""
    try:
        table = spark.catalog.getTable(rel)
    except AnalysisException:
        return None
    return "view" if table.tableType == "VIEW" else "table"


def table_property(spark: SparkSession, rel: str, key: str) -> Optional[str]:
    """Value of table property ``key`` on ``rel``; None when the
    property or the relation is missing."""
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {rel}").collect()
    except AnalysisException:
        return None
    return next((r["value"] for r in rows if r["key"] == key), None)


def partition_columns(spark: SparkSession, rel: str) -> list[str]:
    """Partition columns of ``rel`` as recorded in the catalog; [] when
    it is unpartitioned or missing.  ``DESCRIBE TABLE`` launches no
    Spark job; ``catalog.listColumns`` launches two."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE {rel}").collect()
    except AnalysisException:
        return []
    cols: list[str] = []
    in_part = False
    for r in rows:
        name = (r["col_name"] or "").strip()
        if name.startswith("# Partition"):
            in_part = True
            continue
        if in_part:
            if not name or name.startswith("#"):
                continue
            cols.append(name)
    return cols


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_overwrite_lock = threading.Lock()
_overwrite_scopes: dict = {}  # session -> [entrants, saved mode]


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession) -> Iterator[None]:
    """Run the body with ``partitionOverwriteMode=dynamic``, so an
    ``insertInto(overwrite)`` replaces only the partitions it writes.

    The mode is session-wide and runner threads share the session, so
    the scope is reference-counted: the first entrant saves the mode
    and sets ``dynamic``, the last one out restores the saved value.
    One thread leaving cannot switch an overlapping writer back to
    ``static``, which would replace its whole target table."""
    with _overwrite_lock:
        scope = _overwrite_scopes.get(spark)
        if scope is None:
            scope = _overwrite_scopes[spark] = [
                0, spark.conf.get(_OVERWRITE_MODE, "static")]
            spark.conf.set(_OVERWRITE_MODE, "dynamic")
        scope[0] += 1
    try:
        yield
    finally:
        with _overwrite_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _overwrite_scopes[spark]
                spark.conf.set(_OVERWRITE_MODE, scope[1])


def drop_relation(spark: SparkSession, rel: str) -> None:
    # Spark 4 raises WRONG_COMMAND_FOR_OBJECT_TYPE if DROP VIEW hits a
    # table (and vice versa) — inspect the catalog first.
    rtype = relation_type(spark, rel)
    if rtype == "view":
        spark.sql(f"DROP VIEW IF EXISTS {rel}")
    elif rtype == "table":
        spark.sql(f"DROP TABLE IF EXISTS {rel}")


def write_table(
    spark: SparkSession,
    rel: str,
    df: DataFrame,
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    file_format: str = "parquet",
    bucket_by: Optional[list[str]] = None,
    buckets: int = 0,
    sort_by: Optional[list[str]] = None,
    analyze: bool = False,
) -> None:
    """Write df as a managed table.  ``partition_by`` drives the on-disk
    layout — the 100 TB lever for event-time pruning of incremental /
    microbatch tables; ``bucket_by``+``buckets`` pre-shuffles on the join
    key so downstream equi-joins between co-bucketed tables skip the
    exchange entirely (SURVEY §4).

    ``sort_by`` clusters rows within each output file (range-partition +
    sortWithinPartitions) so parquet row-group min/max statistics become
    selective — the data-skipping lever for point/range predicates on
    non-partition columns (the Z-ORDER-lite of a plain parquet lake).
    ``analyze`` runs ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    COLUMNS after the write, feeding Catalyst's CBO (join reordering,
    broadcast decisions at real scale)."""
    rtype = relation_type(spark, rel)
    if rtype == "view":
        spark.sql(f"DROP VIEW IF EXISTS {rel}")
    if rtype is None:
        _clear_orphan_location(spark, rel)
    if sort_by and not (bucket_by and buckets):
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sort_by]
        df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    writer = df.write.format(file_format).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by and buckets:
        writer = writer.bucketBy(buckets, *bucket_by).sortBy(*(sort_by or bucket_by))
    writer.saveAsTable(rel)
    if analyze:
        spark.sql(f"ANALYZE TABLE {rel} COMPUTE STATISTICS FOR ALL COLUMNS")


def _clear_orphan_location(spark: SparkSession, rel: str) -> None:
    """Remove a leftover managed-table directory that has no catalog
    entry (e.g. a prior session's warehouse dir reused with a fresh
    metastore) — Spark 4's saveAsTable raises LOCATION_ALREADY_EXISTS
    otherwise.  Only file:// warehouses are handled; object-store
    warehouses pair with a persistent metastore, where the catalog and
    the location cannot diverge this way."""
    db, _, name = rel.rpartition(".")
    if not db:
        return
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        if wh.scheme not in ("", "file"):
            return
        shutil.rmtree(
            f"{wh.path}/{db.strip('`')}.db/{name.strip('`')}",
            ignore_errors=True,
        )
    except Exception:
        pass  # saveAsTable will surface any real problem


def rebuild_table(
    spark: SparkSession,
    rel: str,
    df: DataFrame,
    partition_by: Optional[list[str]] = None,
    file_format: str = "parquet",
) -> None:
    """Rewrite ``rel`` from a plan that *reads* ``rel`` (merge/snapshot
    fallback): write to a __dbt_tmp relation, then swap via rename —
    the reference's adapters do the same intermediate-relation + rename
    (pinned by test_runtime_materialization.py).  Delta MERGE replaces
    this wholesale in production."""
    tmp = f"{rel}__dbt_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    writer = df.write.format(file_format).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(tmp)
    drop_relation(spark, rel)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {rel}")
    if partition_by:
        # RENAME moves the table directory but the metastore's
        # per-partition locations still point at the tmp paths —
        # rediscover them from the moved directory layout
        spark.sql(f"ALTER TABLE {rel} RECOVER PARTITIONS")


def create_view(spark: SparkSession, rel: str, sql: str) -> None:
    if relation_type(spark, rel) == "table":
        spark.sql(f"DROP TABLE IF EXISTS {rel}")
    spark.sql(f"CREATE OR REPLACE VIEW {rel} AS {sql}")


def compact_table(
    spark: SparkSession,
    rel: str,
    target_file_mb: int = 128,
    zorder_by: Optional[list[str]] = None,
) -> dict:
    """Small-file compaction — the lake-maintenance OPTIMIZE analog.

    Streaming sinks, microbatch overwrites, and high-parallelism writes
    leave hundreds of KB-scale files per table; at 100 TB that is the
    difference between a scan opening 10⁶ files and 10³.  Reads the
    table, coalesces to ceil(bytes/target) output files (coalesce, not
    repartition — no shuffle unless z-ordering), optionally Z-orders on
    two columns (operators/layout.py) so the rewritten files also get
    tight min/max bounding boxes, and swaps atomically via the same
    tmp-table + rename protocol as rebuild_table.

    Partitioned tables compact within the existing partition layout
    (partition columns are preserved by saveAsTable).  Returns a report
    dict: files/bytes before, target file count, rows."""
    files = spark.table(rel).inputFiles()
    n_files = len(files)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    n_bytes = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        n_bytes += p.getFileSystem(conf).getFileStatus(p).getLen()
    fmt = "parquet"
    try:
        prov = [r for r in spark.sql(f"DESCRIBE EXTENDED {rel}").collect()
                if r["col_name"] == "Provider"]
        if prov:
            fmt = prov[0]["data_type"].lower()
    except Exception:
        pass
    target = max(1, -(-n_bytes // (target_file_mb << 20)))  # ceil

    # preserve hive-partition layout: compaction rewrites files WITHIN
    # the partition scheme, it must never flatten it
    part_cols = partition_columns(spark, rel)
    df = spark.table(rel)
    if zorder_by:
        from dbt_core_spark.operators.layout import zorder_repartition

        a, b = zorder_by
        df = zorder_repartition(df, a, b, num_partitions=target).drop("zcode")
    else:
        df = df.coalesce(target)
    n_rows = df.count()
    rebuild_table(spark, rel, df, partition_by=part_cols or None,
                  file_format=fmt)
    return {
        "files_before": n_files,
        "bytes_before": n_bytes,
        "target_files": target,
        "rows": n_rows,
    }
