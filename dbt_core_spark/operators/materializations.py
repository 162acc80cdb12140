"""Materialization strategies, Spark-native.

The reference resolves these as macros from the dbt-adapters global
project (lookup: task/run.py:444-446; semantics pinned by
tests/functional/adapter/ and tests/functional/materializations/).
Here each is a Python strategy over the DataFrame/SQL API.  Registry is
open: user code can register custom materializations by name
(ref: MaterializationCandidate manifest.py:590-629,
tests/functional/materializations/test_custom_materialization.py).
"""

from __future__ import annotations

import logging
import os
import re
from typing import TYPE_CHECKING, Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_core_spark.exceptions import ExecutionError, SchemaChangeError
from dbt_core_spark.operators import delta_compat
from dbt_core_spark.operators import relations as R
from dbt_core_spark.plans.nodes import Node

if TYPE_CHECKING:  # pragma: no cover
    pass

logger = logging.getLogger(__name__)

# unpartitioned merge falls back to a full-table rewrite (inherent to
# parquet until the Delta seam activates) — warn once per relation when
# the target is big enough that the rewrite is the dominant cost
FULL_REWRITE_WARN_BYTES = 10 * 1024 ** 3
_warned_full_rewrite: set[str] = set()


def _as_list(v) -> list[str]:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


# --------------------------------------------------------------------------
# view / table (ref: tests/functional/adapter/basic/test_base.py,
# test_table_materialization.py)
# --------------------------------------------------------------------------

def materialize_view(spark: SparkSession, node: Node, rel: str, sql: str) -> int:
    R.create_view(spark, rel, sql)
    return 0


def materialize_table(spark: SparkSession, node: Node, rel: str, sql: str) -> int:
    df = spark.sql(sql)
    R.write_table(
        spark, rel, df, mode="overwrite",
        partition_by=_as_list(node.config.get("partition_by")),
        file_format=node.config.get("file_format") or "parquet",
        bucket_by=_as_list(node.config.get("bucket_by")),
        buckets=int(node.config.get("buckets") or 0),
        sort_by=_as_list(node.config.get("sort_by")),
        analyze=bool(node.config.get("analyze")),
    )
    return -1  # row counts only on demand — avoid an extra job at scale


# --------------------------------------------------------------------------
# incremental (ref: strategy field v1/config.py:82; unique_key :108;
# on_schema_change :109; tests/functional/adapter/incremental/)
# --------------------------------------------------------------------------

def materialize_incremental(
    spark: SparkSession,
    node: Node,
    rel: str,
    sql: str,
    full_refresh: bool = False,
) -> int:
    df = spark.sql(sql)
    exists = R.relation_exists(spark, rel)
    partition_by = _as_list(node.config.get("partition_by"))
    fmt = delta_compat.effective_format(node.config.get("file_format"), rel)

    if not exists or full_refresh or node.config.get("full_refresh"):
        R.write_table(
            spark, rel, df, mode="overwrite", partition_by=partition_by,
            file_format=fmt,
        )
        return -1

    df = _apply_on_schema_change(spark, node, rel, df)
    strategy = node.config.get("incremental_strategy") or (
        "merge" if node.config.get("unique_key") else "append"
    )
    unique_key = _as_list(node.config.get("unique_key"))

    if strategy == "append" or not unique_key and strategy not in ("insert_overwrite",):
        # append by-name; Spark resolves saveAsTable(append) positionally in
        # some versions, so project to target order explicitly.
        target_cols = [f.name for f in spark.table(rel).schema.fields]
        out = df.select(
            *[F.col(c) if c in df.columns else F.lit(None).alias(c) for c in target_cols]
        )
        out.write.format(fmt).mode("append").saveAsTable(rel)
        return -1

    if strategy == "insert_overwrite":
        # dynamic partition overwrite: idempotent per-partition replace —
        # the scale-correct strategy for event-time batches
        with R.dynamic_partition_overwrite(spark):
            target_cols = [f.name for f in spark.table(rel).schema.fields]
            df.select(*target_cols).write.mode("overwrite").insertInto(rel)
        return -1

    if strategy in ("merge", "delete+insert", "microbatch"):
        if fmt == "delta" and strategy == "merge":
            # ACID file-level MERGE — the production path: Delta rewrites
            # only the files holding matched keys, no full-table or even
            # full-partition rewrite (delta_compat.py seam)
            _delta_merge(spark, node, rel, df, unique_key)
            return -1
        if partition_by and R.partition_columns(spark, rel) == partition_by:
            _partition_scoped_merge(
                spark, node, rel, df, unique_key, partition_by, fmt
            )
            return -1
        _warn_unpartitioned_full_rewrite(spark, node, rel)
        merged = _merge_frames(
            spark.table(rel),
            df,
            unique_key,
            merge_exclude_columns=_as_list(node.config.get("merge_exclude_columns")),
            incremental_predicates=_as_list(node.config.get("incremental_predicates")),
            delete_insert=(strategy == "delete+insert"),
        )
        # thread the EFFECTIVE format through the rewrite: a delta table
        # merged via delete+insert/fallback must come back as delta, not
        # silently flip to parquet (losing the Delta log/history)
        R.rebuild_table(
            spark, rel, merged, partition_by=partition_by, file_format=fmt
        )
        return -1

    raise ExecutionError(f"unknown incremental_strategy '{strategy}'")


def _delta_merge(
    spark: SparkSession,
    node: Node,
    rel: str,
    df: DataFrame,
    unique_key: list[str],
) -> None:  # pragma: no cover — requires Delta runtime (two-path parity
    # pinned by tests/test_delta_seam.py, delta leg skipped without it)
    """Route an incremental merge through Delta ``MERGE INTO``:
    merge_exclude_columns drop out of the UPDATE SET list and
    incremental_predicates AND into the match condition, mirroring the
    parquet `_merge_frames` semantics exactly (ref:
    tests/functional/adapter/incremental/test_incremental_merge_exclude_columns.py,
    test_incremental_predicates.py)."""
    exclude = set(_as_list(node.config.get("merge_exclude_columns")))
    update_cols = [c for c in df.columns if c not in unique_key and c not in exclude]
    src_view = f"{node.name}__dbt_merge_src"
    df.createOrReplaceTempView(src_view)
    delta_compat.merge_into(
        spark, rel, src_view, unique_key, update_cols, list(df.columns),
        extra_conditions=_as_list(node.config.get("incremental_predicates")),
    )


def _table_size_bytes(spark: SparkSession, rel: str) -> int | None:
    """Best-effort size of ``rel``: catalog statistics when present,
    else a local-filesystem walk of the table location (None on remote
    filesystems — sizing must never cost a Spark job)."""
    location = None
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {rel}").collect():
            name = (r["col_name"] or "").strip()
            if name == "Statistics":
                m = re.search(r"(\d+)\s*bytes", r["data_type"] or "")
                if m:
                    return int(m.group(1))
            elif name == "Location":
                location = (r["data_type"] or "").strip()
    except Exception:
        return None
    if location:
        parsed = urlparse(location)
        if parsed.scheme in ("file", ""):
            path = parsed.path or location
            if os.path.isdir(path):
                total = 0
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        try:
                            total += os.path.getsize(os.path.join(root, f))
                        except OSError:
                            pass
                return total
    return None


def _warn_unpartitioned_full_rewrite(
    spark: SparkSession, node: Node, rel: str
) -> None:
    """The remaining silent 100 TB trap: an incremental merge with no
    partition_by rewrites the ENTIRE target every run (parquet has no
    file-level MERGE; delta_compat.py upgrades this when available).
    Warn once per relation when the target passes the size threshold —
    'partition your large incrementals' must be loud, not a docstring.
    """
    if rel in _warned_full_rewrite:
        return
    threshold = int(
        node.config.get("full_rewrite_warn_bytes", FULL_REWRITE_WARN_BYTES)
    )
    size = _table_size_bytes(spark, rel)
    if size is not None and size >= threshold:
        _warned_full_rewrite.add(rel)
        logger.warning(
            "incremental model %s (%s) has no partition_by: every merge "
            "rewrites the whole %.1f MiB target. Add partition_by so "
            "merges rewrite only touched partitions, or use a Delta/"
            "Iceberg file_format for file-level MERGE.",
            node.unique_id, rel, size / 1024 ** 2,
        )


def _partition_literal(v) -> str:
    """Partition-spec literal for ``ALTER TABLE ... DROP PARTITION``.

    Values come from ``collect()``ed partition rows, so any type/content
    a partition column can hold arrives here: quotes and backslashes are
    escaped (a value containing ``'`` must not produce malformed —
    injection-shaped — SQL), NULL maps to Hive's default-partition
    sentinel (how Spark names a null partition directory), and
    date/timestamp values render via their ISO ``str()`` form, which is
    the partition-literal format Spark parses back."""
    if v is None:
        return "'__HIVE_DEFAULT_PARTITION__'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _partition_scoped_merge(
    spark: SparkSession,
    node: Node,
    rel: str,
    df: DataFrame,
    unique_key: list[str],
    partition_by: list[str],
    file_format: str = "parquet",
) -> None:
    """Merge that rewrites ONLY the partitions the increment touches.

    The full-rewrite fallback is correct but rewrites the entire target —
    at 100 TB an un-predicated merge would rewrite 100 TB.  Here:

    1. touched = partitions of the source batch ∪ partitions of target
       rows whose key matches a source key (a column-pruned key+partition
       scan of the target, NOT a full-row read — handles keys whose
       partition value changed between runs);
    2. merge the source against only the touched slice of the target;
    3. write back via dynamic partition overwrite (untouched partitions'
       files are never rewritten — byte-identical, asserted in tests);
    4. drop any touched partition the merge emptied (a key that moved
       partitions could leave its old partition with zero output rows,
       which dynamic overwrite would otherwise leave stale).

    Mirrors what Delta/Iceberg MERGE achieves via file-level rewrite
    (ref semantics: tests/functional/adapter/incremental/
    test_incremental_unique_id.py); delta_compat.py takes over wholesale
    when delta-spark is importable.
    """
    target = spark.table(rel)
    src_parts = df.select(*partition_by).distinct()
    # column-pruned scan: only key+partition columns of the target are
    # read here; AQE broadcasts the source-key side when it is small
    matched_parts = (
        target.join(df.select(*unique_key).distinct(), unique_key, "leftsemi")
        .select(*partition_by)
        .distinct()
    )
    touched = src_parts.unionByName(matched_parts).distinct()
    touched_vals = [tuple(r) for r in touched.collect()]  # bounded: #partitions

    eligible = target.join(F.broadcast(touched), partition_by, "leftsemi")
    merged = _merge_frames(
        eligible,
        df,
        unique_key,
        merge_exclude_columns=_as_list(node.config.get("merge_exclude_columns")),
        incremental_predicates=_as_list(node.config.get("incremental_predicates")),
        delete_insert=(node.config.get("incremental_strategy") == "delete+insert"),
    )

    # materialize to a tmp table: the merged plan reads `rel`, which Spark
    # refuses to overwrite in-place
    tmp = f"{rel}__dbt_increment_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    target_cols = [f.name for f in target.schema.fields]
    merged.select(*target_cols).write.format(file_format).saveAsTable(tmp)
    try:
        out = spark.table(tmp)
        with R.dynamic_partition_overwrite(spark):
            out.write.mode("overwrite").insertInto(rel)
        out_parts = {tuple(r) for r in out.select(*partition_by).distinct().collect()}
        for vals in touched_vals:
            if tuple(vals) not in out_parts:
                spec = ", ".join(
                    f"`{c}` = {_partition_literal(v)}"
                    for c, v in zip(partition_by, vals)
                )
                spark.sql(f"ALTER TABLE {rel} DROP IF EXISTS PARTITION ({spec})")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def _merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    merge_exclude_columns: list[str],
    incremental_predicates: list[str],
    delete_insert: bool,
) -> DataFrame:
    """Upsert semantics as a DataFrame plan (parquet fallback for Delta
    ``MERGE INTO`` — semantics pinned by
    tests/functional/adapter/incremental/test_incremental_unique_id.py,
    test_incremental_merge_exclude_columns.py, test_incremental_predicates.py).

    Plan shape: one shuffle on the key for the anti-join; source rows win.
    ``incremental_predicates`` split the target into a frozen slice (kept
    verbatim, never joined — at scale this prunes partitions out of the
    shuffle entirely) and an eligible slice that the merge considers.
    """
    if not keys:
        return target.unionByName(source, allowMissingColumns=True)

    eligible = target
    frozen = None
    if incremental_predicates:
        pred = " AND ".join(p.replace("DBT_INTERNAL_DEST.", "").replace("dbt_internal_dest.", "")
                            for p in incremental_predicates)
        eligible = target.filter(pred)
        frozen = target.filter(f"NOT ({pred}) OR ({pred}) IS NULL")

    if not delete_insert:
        # de-dup on key for merge: Delta MERGE errors on dup keys; the
        # fallback keeps ONE source row per key (which one is
        # unspecified).  Rows with ANY NULL key column are exempt: the
        # MERGE match condition `t.k = s.k AND ...` can never be true
        # for them, so every such row is WHEN NOT MATCHED and inserts
        # verbatim — dropDuplicates would wrongly collapse them by
        # treating NULL as a joinable value (merge-kernel fuzz finding).
        all_keys_notnull = F.lit(True)
        for k in keys:
            all_keys_notnull = all_keys_notnull & F.col(k).isNotNull()
        src = (
            source.filter(all_keys_notnull)
            .dropDuplicates(keys)
            .unionByName(source.filter(~all_keys_notnull))
        )
    else:
        # dbt's tested behavior for delete+insert keeps all source rows
        src = source

    kept_target = eligible.join(src.select(*keys).distinct(), on=keys, how="left_anti")

    if merge_exclude_columns:
        # matched rows: source values except excluded columns keep target's.
        # PLAIN equality, mirroring MERGE ON and the anti-join above —
        # eqNullSafe here would let NULL keys "match" while the anti-join
        # keeps the same target rows, emitting them twice (fuzz finding).
        t = eligible.alias("t")
        s = src.alias("s")
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
        matched = t.join(s, cond, "inner").select(
            *[
                (F.col(f"t.{c}") if c in merge_exclude_columns else F.col(f"s.{c}")).alias(c)
                for c in source.columns
            ]
        )
        new_rows = src.join(eligible.select(*keys).distinct(), on=keys, how="left_anti")
        out = kept_target.unionByName(matched, allowMissingColumns=True).unionByName(
            new_rows, allowMissingColumns=True
        )
    else:
        out = kept_target.unionByName(src, allowMissingColumns=True)

    if frozen is not None:
        out = frozen.unionByName(out, allowMissingColumns=True)
    return out


def _apply_on_schema_change(
    spark: SparkSession, node: Node, rel: str, df: DataFrame
) -> DataFrame:
    """ref: v1/config.py:109 (+validation :140-149); behaviors pinned by
    tests/functional/adapter/incremental/test_incremental_on_schema_change.py."""
    mode = node.config.get("on_schema_change", "ignore")
    existing = spark.table(rel)
    new_cols = [c for c in df.columns if c not in existing.columns]
    missing_cols = [c for c in existing.columns if c not in df.columns]
    if not new_cols and not missing_cols:
        return df
    if mode == "fail":
        raise SchemaChangeError(
            f"{node.name}: schema changed (new={new_cols}, removed={missing_cols}) "
            f"and on_schema_change='fail'"
        )
    if mode == "ignore":
        # new source columns are NOT written and the target shape wins
        # (ref contract: ignore inserts into the DEST column list).  The
        # append/insert_overwrite paths re-project anyway, but the merge
        # path unions by name with allowMissingColumns and would leak a
        # new source column into the rebuilt target (schema-drift
        # property-fuzz finding) — project here so every strategy sees
        # the target's exact column set.
        return df.select(*[
            F.col(c) if c in df.columns
            else F.lit(None).cast(existing.schema[c].dataType).alias(c)
            for c in existing.columns
        ])
    if mode == "append_new_columns":
        if new_cols:
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields
                if f.name in new_cols
            )
            spark.sql(f"ALTER TABLE {rel} ADD COLUMNS ({ddl})")
        return df
    if mode == "sync_all_columns":
        # add new + drop removed: rebuild existing data in the new shape
        existing_synced = existing.select(
            *[
                F.col(c) if c in existing.columns else F.lit(None).alias(c)
                for c in df.columns
            ]
        )
        R.rebuild_table(spark, rel, existing_synced,
                        partition_by=_as_list(node.config.get("partition_by")))
        return df
    raise ExecutionError(f"invalid on_schema_change '{mode}'")


# --------------------------------------------------------------------------
# seed (ref: SeedNode nodes.py:846-946; CSV load providers.py:1028-1053;
# config delimiter/quote_columns/column_types v1/seed.py:15-24)
# --------------------------------------------------------------------------

def materialize_seed(spark: SparkSession, node: Node, rel: str) -> int:
    column_types: dict = node.config.get("column_types") or {}
    delimiter: str = node.config.get("delimiter") or ","
    if node.seed_path:
        reader = (
            spark.read.option("header", "true")
            .option("delimiter", delimiter)
            .option("inferSchema", "true")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        )
        df = reader.csv(node.seed_path)
    else:
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame(node.seed_rows))
    for col, dtype in column_types.items():
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast(dtype))
    R.write_table(spark, rel, df, mode="overwrite")
    return -1


_MV_FP_PROP = "dbt_mv_fingerprint"


def _mv_fingerprint(node: Node, sql: str) -> str:
    import hashlib
    import json as _json

    cfg = {k: node.config.get(k) for k in
           ("partition_by", "bucket_by", "buckets", "sort_by", "file_format")}
    return hashlib.md5(
        _json.dumps({"sql": sql, **cfg}, sort_keys=True, default=str).encode()
    ).hexdigest()


def materialize_materialized_view(
    spark: SparkSession, node: Node, rel: str, sql: str
) -> int:
    """Spark has no native materialized view — emulate as table +
    refresh-on-run, with ``on_configuration_change`` gating DEFINITION
    drift, not refresh (ref: v1/config.py:110-112 OnConfigurationChange,
    tests/functional/adapter/materialized_view/ — an unchanged MV always
    refreshes its data; the modes only decide what happens when the
    stored definition/config no longer matches the model):

    - unchanged definition → refresh (every mode);
    - changed + ``apply`` (default) → rebuild with the new definition;
    - changed + ``continue`` → warn once and keep the existing MV;
    - changed + ``fail`` → error.

    The definition fingerprint (compiled SQL + layout configs) persists
    as a table property, so drift detection survives across processes —
    the analog of the reference's describe-then-diff configuration
    changeset."""
    fp = _mv_fingerprint(node, sql)
    on_change = node.config.get("on_configuration_change", "apply")
    old = R.table_property(spark, rel, _MV_FP_PROP)  # None if no relation
    if old is not None and old != fp:
        if on_change == "continue":
            logger.warning(
                "%s: materialized-view definition changed but "
                "on_configuration_change='continue' — keeping the "
                "existing relation (refresh skipped)", node.unique_id,
            )
            return 0
        if on_change == "fail":
            raise ExecutionError(
                f"{node.name}: materialized-view definition changed and "
                f"on_configuration_change='fail'"
            )
    n = materialize_table(spark, node, rel, sql)
    spark.sql(
        f"ALTER TABLE {rel} SET TBLPROPERTIES('{_MV_FP_PROP}'='{fp}')"
    )
    return n


# --------------------------------------------------------------------------
# registry (custom materializations pluggable by name)
# --------------------------------------------------------------------------

MATERIALIZATIONS: dict[str, Callable] = {
    "view": materialize_view,
    "table": materialize_table,
    "incremental": materialize_incremental,
    "seed": materialize_seed,
    "materialized_view": materialize_materialized_view,
}


def register_materialization(name: str, fn: Callable) -> None:
    """Plug in a custom materialization (parity with user-defined
    ``{% materialization %}`` macros)."""
    MATERIALIZATIONS[name] = fn
