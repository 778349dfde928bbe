"""Oracle gate for the Python DataSource connector
(`sources/pydatasource.py`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark_models_spark.operators import query, run_scope
from dbt_spark_models_spark.sources.testdata import load_tables


@query(
    "source_python_datasource_jsonl",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY lang
""",
)
def source_python_datasource_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a CUSTOM Python DataSource (Spark 4
    `pyspark.sql.datasource` API): documents are written to a JSON-lines
    directory by Spark's own distributed writer, then read back through
    the `jsonl_lines` connector — one `InputPartition` per part file, one
    task per partition — and rolled up per language. The oracle computes
    the same rollup from the ORIGINAL parquet, so the gate proves the
    connector reproduces the table exactly (no lost/duplicated splits, no
    mangled records) with real partition parallelism.

    Scale: the connector pattern (driver lists splits, each task reads
    one) is how any external system gets DataFrame-native access; the
    Python rows return to the JVM as Arrow batches."""
    from dbt_spark_models_spark.sources.pydatasource import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = "/tmp/spark_models_engine/pyds_" + run_scope(sf_dir)
    # 4 splits keeps the multi-partition contract under test while not
    # paying 32 Python-worker startups for a dimension-sized gate input
    # (the connector itself is split-count-agnostic)
    d.select("doc_id", "lang", "text").coalesce(4).write.mode(
        "overwrite"
    ).json(out)
    back = spark.read.format("jsonl_lines").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


@query(
    "sink_python_datasource_roundtrip",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def sink_python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python DataSource's WRITER
    (`sources/pydatasource.py:JsonlWriter` — the Spark 4
    `DataSourceWriter` contract): documents are written by
    `df.write.format("jsonl_lines")` with a real two-phase commit (tasks
    stage `.tmp-` files, the driver's `commit()` renames them; `abort()`
    cleans up), then read back through the connector's reader and rolled
    up per language. The oracle aggregates the ORIGINAL parquet, so the
    gate proves the write is exactly-once (no lost/duplicated partitions:
    doc_id_sum would catch either) across distributed tasks.

    Scale: the commit protocol is the part that matters at 1000
    executors — speculative or retried tasks leave only unreferenced tmp
    files, and visibility is atomic at driver commit, the same contract
    JVM file committers give parquet."""
    from dbt_spark_models_spark.sources.pydatasource import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = "/tmp/spark_models_engine/pyds_sink_" + run_scope(sf_dir)
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    (
        d.select("doc_id", "lang", "text")
        .coalesce(4)  # same split-count note as the reader gate above
        .write.format("jsonl_lines")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.format("jsonl_lines").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )
