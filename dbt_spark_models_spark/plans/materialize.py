"""Materializations (SURVEY.md §2.1 sinks; §3.1 stage 5).

Reference semantics reproduced Spark-first:

- **view**: CREATE OR REPLACE VIEW (``creater_view.sql:1-7``).
- **table**: CTAS, partitioned, parquet by default
  (``create_table.sql:20-38``).
- **incremental / insert_overwrite**: with ``partition_by`` only touched
  partitions are replaced (dynamic partitionOverwriteMode — set in
  session.py); without it the whole table is overwritten — matching
  dbt-spark exactly (SURVEY.md §7 "What's hard").
- **incremental / append**: pure append (``fact_table_update.sql:8-16``).
- **on_schema_change**: ignore | append_new_columns | sync_all_columns
  (schema diff + ALTER TABLE ADD COLUMNS, SURVEY.md §4 custom-touch (c)).
- **seed**: CSV → table with inferred schema (``seeds/properties.yml``).

Scale notes: a dynamic-partition write from an unaligned upstream plan
emits up to (shuffle.partitions × n_partitions) files — the small-files
problem that kills both the commit phase here and downstream scans at
100 TB. So partitioned writes repartition on the partition columns first
(one task → one compact file per partition) UNLESS the model SQL carries
its own DISTRIBUTE BY (SURVEY.md §2.6), which stays authoritative. A
partition that outgrows one task at production scale adds a salt column
to the distribute clause; at gate scale plain keys suffice.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class MaterializeResult:
    identifier: str
    action: str  # created | replaced | overwritten_partitions | appended | view
    rows: int | None = None


def _qualify(database: str | None, name: str) -> str:
    return f"{database}.{name}" if database else name


def table_exists(spark: SparkSession, database: str | None, name: str) -> bool:
    return spark.catalog.tableExists(_qualify(database, name))


# {Py4J gateway: whether its JVM has the Delta Lake jars}
_DELTA_ON_CLASSPATH: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake jars are on the classpath (import-try).
    Probed once per JVM: its classpath cannot change while it runs, and
    a failed probe is a Py4J exception round trip that PySpark then
    converts with a dozen class lookups."""
    gateway = spark.sparkContext._gateway
    if gateway not in _DELTA_ON_CLASSPATH:
        try:
            spark._jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
            found = True
        except Exception:  # noqa: BLE001
            found = False
        _DELTA_ON_CLASSPATH[gateway] = found
    return _DELTA_ON_CLASSPATH[gateway]


def _layout_for_write(
    df: DataFrame, partition_by: list[str] | None, model_sql: str = ""
) -> DataFrame:
    """Align the plan's partitioning with the table's partition columns
    before a dynamic-partition write: each output partition is then
    produced by one task → one compact file, instead of up to
    (shuffle.partitions × n_partitions) tiny files. Skipped when the
    model SQL carries its own DISTRIBUTE BY — the author's layout wins."""
    if not partition_by or "distribute by" in model_sql.lower():
        return df
    from pyspark.sql import functions as F

    return df.repartition(*[F.col(c) for c in partition_by])


def _align_columns(
    spark: SparkSession, df: DataFrame, target: str, on_schema_change: str
) -> DataFrame:
    """Reconcile df schema with the target table before insertInto
    (positional). Implements on_schema_change."""
    from pyspark.sql import functions as F

    tgt_fields = spark.table(target).schema.fields
    tgt_names = [f.name for f in tgt_fields]
    src_names = set(df.columns)
    new_cols = [c for c in df.columns if c not in tgt_names]

    if new_cols and on_schema_change in ("append_new_columns", "sync_all_columns"):
        ddl = ", ".join(
            f"`{c}` {df.schema[c].dataType.simpleString()}" for c in new_cols
        )
        spark.sql(f"ALTER TABLE {target} ADD COLUMNS ({ddl})")
        tgt_fields = spark.table(target).schema.fields
        tgt_names = [f.name for f in tgt_fields]

    cols = []
    for f in tgt_fields:
        if f.name in src_names:
            cols.append(F.col(f.name).cast(f.dataType))
        else:
            # column exists in target but not increment → NULL-fill
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def materialize(
    spark: SparkSession,
    name: str,
    sql: str,
    config: dict[str, Any],
    database: str | None = None,
    full_refresh: bool = False,
    first_run_sql: str | None = None,
    cdf_txn: dict[str, int] | None = None,
) -> MaterializeResult:
    """Execute one model's compiled SQL under its materialization.

    ``sql`` is the incremental-rendered text; ``first_run_sql`` the
    non-incremental render (used when the target doesn't exist yet).

    ``cdf_txn`` ({txn appId: upstream version}) carries the Runner's
    ref_changes() consumed-version watermarks INTO the materialization
    commit itself (DeltaLite SetTransaction actions): the watermark and
    the data it describes are one atomic log entry, so a crash can never
    leave committed data with a stale watermark that would replay — and
    double-apply — the same change window (r10 ADVICE #1). Only
    DeltaLite-backed models may carry one (ref_changes() consumers are
    required to be ``file_format='delta'``).
    """
    mat = config.get("materialized", "view")
    ident = _qualify(database, name)

    if mat == "view":
        spark.sql(f"CREATE OR REPLACE VIEW {ident} AS {sql}")
        return MaterializeResult(ident, "view")

    if mat == "ephemeral":
        # inlined by ref resolution; nothing to execute
        return MaterializeResult(ident, "ephemeral")

    file_format = config.get("file_format", "parquet")
    if file_format == "delta" and not _delta_available(spark):
        # reference uses delta on 197 configs and depends on its
        # semantics (ACID commits, MERGE, dynamic partition overwrite,
        # time travel). Without the Delta jars those tables route through
        # the bundled DeltaLite implementation instead of silently
        # degrading to parquet (VERDICT r8 #1).
        return _materialize_deltalite(
            spark, name, sql, config, database, full_refresh, first_run_sql,
            cdf_txn,
        )
    if cdf_txn:
        raise ValueError(
            f"{name}: CDF watermarks need a DeltaLite commit to ride "
            "(ref_changes() consumers must be file_format='delta')"
        )
    partition_by = config.get("partition_by")
    if isinstance(partition_by, str):
        partition_by = [partition_by]

    def create_as(select_sql: str, action: str) -> MaterializeResult:
        df = _layout_for_write(spark.sql(select_sql), partition_by, select_sql)
        writer = df.write.mode("overwrite").format(file_format)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(ident)
        return MaterializeResult(ident, action)

    if mat == "table":
        res = create_as(
            sql, "replaced" if table_exists(spark, database, name) else "created"
        )
        _apply_table_metadata(spark, ident, config)
        return res

    if mat == "incremental":
        exists = table_exists(spark, database, name)
        if not exists or full_refresh:
            return create_as(first_run_sql or sql, "created")
        strategy = config.get("incremental_strategy", "insert_overwrite")
        osc = config.get("on_schema_change", "ignore")
        df = _align_columns(spark, spark.sql(sql), ident, osc)
        if strategy == "append":
            df.write.mode("append").insertInto(ident)
            return MaterializeResult(ident, "appended")
        if strategy == "merge":
            # dbt-spark MERGE semantics (delta targets in the reference,
            # macros/spark_adapter_patch/create_table.sql:21-38): matched
            # keys update every column, unmatched insert. With delta jars
            # this is a real MERGE INTO; on parquet the same result comes
            # from an anti-join staging swap.
            key = config.get("unique_key")
            if not key:
                raise ValueError(f"merge strategy for {name} needs unique_key")
            keys = [key] if isinstance(key, str) else list(key)
            # delta MERGE throws on duplicate-key sources; enforce the same
            # contract so parquet and delta paths agree
            dup = df.groupBy(*keys).count().filter("count > 1").limit(1).count()
            if dup:
                raise ValueError(
                    f"merge source for {name} has duplicate unique_key rows"
                )
            if config.get("file_format") == "delta" and _delta_available(spark):
                tmp = f"__merge_src_{name}"
                df.createOrReplaceTempView(tmp)
                on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
                spark.sql(
                    f"MERGE INTO {ident} t USING {tmp} s ON {on} "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"
                )
                spark.catalog.dropTempView(tmp)
                return MaterializeResult(ident, "merged")
            target = spark.table(ident)
            result = target.join(df, on=keys, how="left_anti").unionByName(
                df.select(*target.columns)
            )
            staging = f"{ident}__merge_staging"

            def write(src_df, dest):
                w = (
                    _layout_for_write(src_df, partition_by)
                    .write.mode("overwrite")
                    .format(file_format)
                )
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.saveAsTable(dest)

            write(result, staging)
            write(spark.table(staging), ident)
            spark.sql(f"DROP TABLE {staging}")
            return MaterializeResult(ident, "merged")
        # insert_overwrite: dynamic mode replaces only partitions present
        # in the increment; without partition_by this overwrites the table
        # (dbt-spark parity, SURVEY.md §7)
        _layout_for_write(df, partition_by, sql).write.mode(
            "overwrite"
        ).insertInto(ident)
        return MaterializeResult(
            ident, "overwritten_partitions" if partition_by else "overwritten"
        )

    raise ValueError(f"unknown materialization {mat!r} for {name}")


def _materialize_deltalite(
    spark: SparkSession,
    name: str,
    sql: str,
    config: dict[str, Any],
    database: str | None,
    full_refresh: bool,
    first_run_sql: str | None,
    cdf_txn: dict[str, int] | None = None,
) -> MaterializeResult:
    """``file_format='delta'`` materializations on the bundled DeltaLite
    log (jar-free path). Same dbt-spark strategy semantics as the catalog
    branch, but each run is ONE atomic log commit:

    - table              → overwrite commit (remove old set + add new)
    - incremental append → append commit
    - incremental merge  → stats-pruned copy-on-write MERGE commit
    - insert_overwrite   → dynamic partition overwrite commit (only the
      increment's partitions are replaced — the delta-native form of the
      reference's daily insert_overwrite models)

    Readers resolve through a temp view re-attached after every commit
    (plans/deltalite_tables.py) — a JVM-native parquet scan over the
    committed active set, so crash-mid-write leaves the previous snapshot
    intact and time travel / CDF / history come for free."""
    from dbt_spark_models_spark.plans import deltalite_tables as dlt
    from dbt_spark_models_spark.sources import deltalite

    mat = config.get("materialized", "view")
    partition_by = config.get("partition_by")
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    path = dlt.table_path(spark, database, name)
    ident = dlt.qualified(database, name)

    def finish(action: str) -> MaterializeResult:
        _apply_deltalite_metadata(path, config)
        dlt.attach(spark, database, name)
        return MaterializeResult(ident, action)

    def write_full(select_sql: str, action: str) -> MaterializeResult:
        df = _layout_for_write(spark.sql(select_sql), partition_by, select_sql)
        deltalite.write(spark, df, path, "overwrite", partition_by, txn=cdf_txn)
        return finish(action)

    exists = deltalite.latest_version(path) is not None

    if mat == "table":
        return write_full(sql, "replaced" if exists else "created")

    if mat == "incremental":
        if not exists or full_refresh:
            return write_full(first_run_sql or sql, "created")
        strategy = config.get("incremental_strategy", "insert_overwrite")
        osc = config.get("on_schema_change", "ignore")
        df = _align_columns_deltalite(spark.sql(sql), path, osc)
        if strategy == "append":
            deltalite.write(spark, df, path, "append", txn=cdf_txn)
            return finish("appended")
        if strategy == "merge":
            key = config.get("unique_key")
            if not key:
                raise ValueError(f"merge strategy for {name} needs unique_key")
            keys = [key] if isinstance(key, str) else list(key)
            deltalite.merge(spark, df, path, keys, txn=cdf_txn)
            return finish("merged")
        # insert_overwrite: dynamic partition overwrite with partition_by,
        # whole-table overwrite without (dbt-spark parity)
        df = _layout_for_write(df, partition_by, sql)
        if partition_by:
            deltalite.write(spark, df, path, "overwrite_partitions", txn=cdf_txn)
            return finish("overwritten_partitions")
        deltalite.write(spark, df, path, "overwrite", txn=cdf_txn)
        return finish("overwritten")

    raise ValueError(
        f"unknown materialization {mat!r} for delta model {name}"
    )


def _align_columns_deltalite(
    df: DataFrame, path: str, on_schema_change: str
) -> DataFrame:
    """on_schema_change against a DeltaLite table's committed schema:
    missing committed columns NULL-fill (cast to the committed type);
    new columns are kept only for append_new_columns / sync_all_columns
    (DeltaLite's append/dynamic-overwrite evolves the schema additively,
    so keeping them IS the ALTER TABLE ADD COLUMNS of the catalog path).
    The schema comes from the log alone; no snapshot scan is built."""
    from pyspark.sql import functions as F

    from dbt_spark_models_spark.sources import deltalite

    committed = deltalite.table_schema(path)
    tgt_names = {f.name for f in committed.fields}
    new_cols = [c for c in df.columns if c not in tgt_names]
    keep_new = (
        new_cols
        if on_schema_change in ("append_new_columns", "sync_all_columns")
        else []
    )
    cols = []
    for f in committed.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols, *keep_new)


def _apply_deltalite_metadata(path: str, config: dict[str, Any]) -> None:
    """tblproperties + description on the DeltaLite log — only keys that
    actually changed commit (idempotent re-runs add zero versions)."""
    from dbt_spark_models_spark.sources import deltalite

    wanted = {str(k): str(v) for k, v in (config.get("tblproperties") or {}).items()}
    desc = config.get("description")
    if desc:
        wanted["comment"] = str(desc)
    if not wanted:
        return
    current = (deltalite._replay_state(path)["meta"].get("configuration")) or {}
    for k, v in wanted.items():
        if current.get(k) != v:
            deltalite.set_table_property(path, k, v)


def _apply_table_metadata(spark: SparkSession, ident: str, config: dict[str, Any]) -> None:
    """tblproperties + persisted docs (reference
    ``macros/spark_adapter_patch/tblproperties_clause.sql:1-20``,
    ``alter_column_comment.sql:1-16``; ``persist_docs`` in
    ``dbt_project.yml:41-43``)."""
    props = config.get("tblproperties") or {}
    if props:
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
        spark.sql(f"ALTER TABLE {ident} SET TBLPROPERTIES ({kv})")
    desc = config.get("description")
    if desc:
        escaped = str(desc).replace("'", "''")
        spark.sql(f"COMMENT ON TABLE {ident} IS '{escaped}'")


def materialize_as_prod_view(
    spark: SparkSession, name: str, database: str | None, prod_database: str
) -> MaterializeResult:
    """Dev-acceleration copy-from-prod (reference
    ``macros/spark_adapter_patch/create_table.sql:3-19``,
    ``infra/get_tables_to_copy_from_prod.py``): instead of recomputing an
    unchanged model in a dev schema, create a view onto the prod table."""
    ident = _qualify(database, name)
    spark.sql(
        f"CREATE OR REPLACE VIEW {ident} AS SELECT * FROM {prod_database}.{name}"
    )
    return MaterializeResult(ident, "copied_from_prod")


def load_seed(
    spark: SparkSession,
    name: str,
    csv_path: str,
    database: str | None = None,
    column_types: dict[str, str] | None = None,
) -> MaterializeResult:
    """CSV seed → table (header + schema inference, like dbt agate typing).

    ``column_types`` overrides inferred types per column (reference
    ``seeds/properties.yml:3-60`` ``column_types`` config)."""
    from pyspark.sql import functions as F

    ident = _qualify(database, name)
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(csv_path)
    )
    for col, typ in (column_types or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast(typ))
    df.write.mode("overwrite").format("parquet").saveAsTable(ident)
    return MaterializeResult(ident, "seeded", rows=df.count())
