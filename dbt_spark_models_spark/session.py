"""SparkSession factory with scale-appropriate defaults.

The reference delegates all execution tuning to Spark/AQE (SURVEY.md §4 —
no join hints, no manual optimizer work). We do the same, but pin the
session configs that matter for correctness (UTC timezone vs the DuckDB
oracle, ANSI off to match reference Spark-SQL semantics) and for scale
(AQE on, dynamic partition overwrite for incremental materializations,
Arrow for the Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL confs required for correctness, all runtime-settable — applied
# defensively so the engine also works on a session it didn't build
# (e.g. the harness driver's own SparkSession)
_REQUIRED_SQL_CONFS = {
    # events.parquet is TIMESTAMP(NANOS); Spark rejects it without this
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet timestamp[us] WITHOUT timezone would otherwise infer as
    # TIMESTAMP_NTZ under Spark 4.x, which unix_millis/unix_micros and
    # streaming watermarks reject; read as session-tz TIMESTAMP (UTC)
    # to match DuckDB's naive-timestamp semantics
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # oracle comparisons assume UTC-naive timestamps
    "spark.sql.session.timeZone": "UTC",
    # incremental insert_overwrite must be partition-surgical
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
    # local-scale default; AQE coalesces batch shuffles, but stateful
    # streaming pins partition counts, so an unset 200 hurts there
    "spark.sql.shuffle.partitions": "32",
    # InferFiltersFromGenerate duplicates the generator's child expression
    # into a pre-Generate filter, which predicate pushdown then inlines
    # below exchanges — for explode(transform(...)) over tokenized text
    # that turns an O(n) per-row shingle computation into O(n²) evaluated
    # on the narrowest (scan) stage: 10× slower on the dedup/contamination
    # pipelines. The rule only ever ADDS inferred filters (a pruning
    # optimization), so excluding it never changes results.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

_PREPARED_SESSIONS: set[int] = set()


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply required dynamic SQL confs + engine functions to ANY session."""
    if id(spark) in _PREPARED_SESSIONS:
        return spark
    for k, v in _REQUIRED_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be static on some builds
            pass
    from dbt_spark_models_spark.functions.registry import register_engine_functions

    register_engine_functions(spark)
    _PREPARED_SESSIONS.add(id(spark))
    return spark


def get_spark(
    app_name: str = "dbt_spark_models_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # incremental insert_overwrite must replace only touched partitions
        # (reference: incremental_strategy='insert_overwrite' ×158, SURVEY §2.1)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # correctness vs DuckDB oracle: parquet timestamps are UTC-naive there
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in the loader (µs truncation,
        # matching DuckDB's ns→µs cast)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us] sans tz must read as TIMESTAMP (UTC session), not NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # engine-level SQL function parity (SURVEY.md §2.11) + required confs
    # (getOrCreate may have returned an existing session whose builder
    # confs didn't apply)
    return ensure_session_confs(spark)
