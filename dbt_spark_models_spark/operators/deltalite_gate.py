"""DeltaLite gates: ACID log-protocol table format, oracle-verified.

Closes the one remaining SURVEY.md §2.1 component every prior round
carried as an environmental gap (``file_format='delta'``, 197 reference
model configs + all 54 snapshots — e.g.
``snapshots/spark/b2b_mart/scd2_merchant_orders_v2_snapshot.sql:8-15``):
no Delta jars exist in the container, but the transaction-log PROTOCOL is
a public spec, implemented Spark-first in ``sources/deltalite.py``. These
gates drive the full lifecycle — create / append / overwrite / MERGE /
time travel — and the DuckDB oracle recomputes what each snapshot MUST
contain from the source parquet, so the driver hash-verifies commit
atomicity and log-replay semantics, not just row counts.

Each gate rebuilds its table under /tmp from scratch per call —
deterministic for a fixed sf_dir.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark_models_spark.operators import query, run_scope
from dbt_spark_models_spark.sources import deltalite
from dbt_spark_models_spark.sources.testdata import load_tables

_ROOT = "/tmp/spark_models_deltalite"


def _table_dir(sf_dir: str, gate: str) -> str:
    h = run_scope(sf_dir)
    path = os.path.join(_ROOT, h, gate)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _orders_slice(spark: SparkSession, sf_dir: str, rem: int) -> DataFrame:
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).filter(F.col("o_orderkey") % 3 == rem)


@query(
    "sink_deltalite_snapshot_read",
    oracle="""
WITH snap AS (
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS total_price,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM snap GROUP BY o_orderpriority
""",
)
def sink_deltalite_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeltaLite create + append + snapshot read: v0 CTAS-commits one
    orders slice, v1 appends a second; the latest snapshot must be
    exactly their union — the oracle recomputes it from the source table,
    so the driver verifies the log replay (adds accumulate across
    commits) and that nothing else leaked in.

    Scale: the commit is metadata (one JSON file); the read is a plain
    parquet scan of the active file set, so pushdown/pruning behave as on
    any parquet table."""
    path = _table_dir(sf_dir, "snapshot_read")
    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 0).coalesce(4), path, "overwrite"
    )
    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 1).coalesce(4), path, "append"
    )
    snap = deltalite.read(spark, path)
    return snap.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    ).select("o_orderpriority", "n_orders", "total_price", "key_sum")


@query(
    "sink_deltalite_time_travel",
    oracle="""
WITH v0 AS (
    SELECT 0 AS version, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 = 0
), v1 AS (
    SELECT 1 AS version, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
), v2 AS (
    SELECT 2 AS version, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 = 2
)
SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
""",
)
def sink_deltalite_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel by log replay: after create(v0) / append(v1) /
    overwrite(v2), reading ``versionAsOf`` 0, 1 and 2 must see three
    DIFFERENT tables — v1 is the union, v2 is ONLY the overwrite slice
    (its commit carries remove-actions for every prior file). The oracle
    recomputes each snapshot's row count and key checksum from source.

    This is the gate that fails if remove-actions are ignored, if
    overwrite leaks old files into the new snapshot, or if old files are
    deleted eagerly (v0/v1 must stay readable after the overwrite)."""
    path = _table_dir(sf_dir, "time_travel")
    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 0).coalesce(4), path, "overwrite"
    )
    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 1).coalesce(4), path, "append"
    )
    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 2).coalesce(4), path, "overwrite"
    )
    snaps = [
        deltalite.read(spark, path, version=v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .select(F.lit(v).alias("version"), "n_rows", "key_sum")
        for v in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out


@query(
    "engine_deltalite_scd2_snapshot",
    oracle="""
WITH v1 AS (
    SELECT p_partkey AS product_id,
           CAST(ROUND(p_retailprice, 2) AS DECIMAL(18, 2)) AS price
    FROM part
), upd AS (
    SELECT product_id,
           CAST(ROUND(price * 1.1, 2) AS DECIMAL(18, 2)) AS price
    FROM v1 WHERE product_id % 10 = 0 AND product_id % 97 <> 3
), s0 AS (
    SELECT 0 AS version, COUNT(*) AS n_rows, COUNT(*) AS n_current,
           CAST(0 AS BIGINT) AS n_closed,
           CAST(SUM(price) AS DOUBLE) AS price_sum
    FROM v1
), s1 AS (
    SELECT 1 AS version,
           (SELECT COUNT(*) FROM v1) + (SELECT COUNT(*) FROM upd) AS n_rows,
           (SELECT COUNT(*) FROM v1 WHERE product_id % 97 <> 3) AS n_current,
           (SELECT COUNT(*) FROM v1 WHERE product_id % 97 = 3)
             + (SELECT COUNT(*) FROM upd) AS n_closed,
           CAST((SELECT SUM(price) FROM v1) + (SELECT SUM(price) FROM upd)
                AS DOUBLE) AS price_sum
)
SELECT * FROM s0 UNION ALL SELECT * FROM s1
""",
)
def engine_deltalite_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot against a DeltaLite table — the reference's ACTUAL
    snapshot shape (all 54 snapshot blocks target delta,
    ``snapshots/spark/b2b_mart/scd2_merchant_orders_v2_snapshot.sql:8-15``):
    batch 2 reprices every 10th part (close old / open new version) and
    hard-deletes every (k%97==3)rd. Each snapshot run is ONE atomic
    overwrite commit (``plans/snapshots.py:snapshot_deltalite``), so the
    table's version history IS the snapshot history: the gate reads BOTH
    commits via time travel and publishes per-version row/current/closed
    counts + an exact price checksum; the oracle recomputes both states
    from source. This is what the parquet staging-swap path
    (``engine_scd2_snapshot``) cannot offer — pre-snapshot states stay
    queryable, and a crash mid-snapshot can never half-swap the table."""
    path = _table_dir(sf_dir, "scd2_snapshot")
    from dbt_spark_models_spark.plans.snapshots import snapshot_deltalite

    part = load_tables(spark, sf_dir, ("part",))["part"]
    cfg = dict(
        unique_key="product_id",
        strategy="timestamp",
        updated_at="update_ts",
        invalidate_hard_deletes=True,
    )
    b1 = part.select(
        F.col("p_partkey").alias("product_id"),
        F.round("p_retailprice", 2).cast("decimal(18,2)").alias("price"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("update_ts"),
    )
    snapshot_deltalite(spark, path, b1.coalesce(4), cfg)
    b2 = (
        b1.filter(F.col("product_id") % 97 != 3)
        .withColumn(
            "price",
            F.when(
                F.col("product_id") % 10 == 0,
                F.round(F.col("price") * 1.1, 2).cast("decimal(18,2)"),
            ).otherwise(F.col("price")),
        )
        .withColumn(
            "update_ts",
            F.when(
                F.col("product_id") % 10 == 0,
                F.lit("2024-02-01 00:00:00").cast("timestamp"),
            ).otherwise(F.col("update_ts")),
        )
    )
    snapshot_deltalite(
        spark, path, b2.coalesce(4), cfg, run_ts="2024-02-02 00:00:00"
    )
    snaps = []
    for v in (0, 1):
        snap = deltalite.read(spark, path, version=v)
        snaps.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(
                    F.when(F.col("dbt_valid_to").isNull(), 1)
                ).alias("n_current"),
                F.count(
                    F.when(F.col("dbt_valid_to").isNotNull(), 1)
                ).alias("n_closed"),
                F.sum("price").cast("double").alias("price_sum"),
            ).select(F.lit(v).alias("version"), "*")
        )
    return snaps[0].unionByName(snaps[1])


@query(
    "sink_deltalite_data_skipping",
    oracle="""
WITH params AS (
    SELECT CAST(CEIL((MAX(o_orderkey) + 1) / 8.0) AS BIGINT) AS w FROM orders
), buckets AS (
    -- one committed file per NON-EMPTY key range; a file survives the
    -- <=cutoff skip filter iff its min key is under the cutoff
    SELECT o_orderkey // w AS b, MIN(o_orderkey) AS mn
    FROM orders, params GROUP BY 1
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS total_price,
       CAST((SELECT COUNT(*) FROM buckets, params WHERE mn <= w + w // 2)
            AS INT) AS files_scanned,
       CAST((SELECT COUNT(*) FROM buckets) AS INT) AS files_total
FROM orders, params
WHERE o_orderkey <= w + w // 2
""",
)
def sink_deltalite_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping via the spec's per-add ``stats`` JSON
    (min/max harvested free from each parquet footer at commit time):
    orders land as 8 single-file commits with DISJOINT o_orderkey ranges,
    then a read with a key predicate must plan over exactly the 2 files
    whose ranges intersect it — the published files_scanned/files_total
    columns are the pruning evidence, and the aggregate over the
    skip-read must equal the oracle's plain filtered aggregate (proving
    the pruning is lossless, not just aggressive).

    Scale: at 100 TB the active set is millions of files; stats pruning
    shrinks the file LIST before Spark plans anything — this is the
    zone-map layer Delta/Iceberg put above parquet's own row-group
    pushdown, which still applies inside surviving files. The 1-row max()
    probe sizes the ranges (driver-side O(1), documented)."""
    path = _table_dir(sf_dir, "data_skipping")
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_totalprice"
    )
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]  # 1-row probe
    # half-open ranges [i*w, (i+1)*w) from 0 — keys may start at 0
    w = (mx + 8) // 8
    for i in range(8):
        part = o.filter(
            (F.col("o_orderkey") >= i * w) & (F.col("o_orderkey") < (i + 1) * w)
        ).coalesce(1)
        deltalite.write(spark, part, path, "overwrite" if i == 0 else "append")
    cutoff = w + w // 2
    filters = [("o_orderkey", "<=", cutoff)]
    kept, total = deltalite.scan_file_counts(path, skip_filters=filters)
    snap = deltalite.read(spark, path, skip_filters=filters).filter(
        F.col("o_orderkey") <= cutoff
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    ).select(
        "n_rows",
        "key_sum",
        "total_price",
        F.lit(kept).cast("int").alias("files_scanned"),
        F.lit(total).cast("int").alias("files_total"),
    )


@query(
    "sink_deltalite_optimize_zorder",
    oracle="""
WITH src AS (
    SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 4))::BIGINT % 64 AS xk,
           ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 4))::BIGINT % 64 AS yk,
           value
    FROM events
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(xk) AS BIGINT) AS xk_sum,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18, 6))), 2) AS DOUBLE)
           AS value_sum,
       CAST((SELECT COUNT(DISTINCT event_id % 8) FROM events) AS INT)
           AS files_before,
       4 AS files_after,
       2 AS files_scanned_low_x
FROM src
""",
)
def sink_deltalite_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER, jar-free: events land as 8 small append commits
    (the streaming-ingest small-files pattern), then one
    ``deltalite.optimize`` commit compacts them into 4 files clustered by
    the Morton interleave of (xk, yk) — dataChange=false adds/removes, so
    the content is bit-identical (the oracle recomputes the full
    aggregate from source and the hash must match). The Z-layout makes
    file stats tight on BOTH columns: the gate proves it by publishing
    that an xk<=15 predicate now scans exactly 2 of the 4 files (the two
    Z-quadrants whose x high-bit is 0 — pure arithmetic bucketing, so the
    count is deterministic).

    Scale: this is the compaction + multi-dimensional clustering pass a
    100 TB streaming table runs on cold partitions; without it, file
    counts grow with ingest frequency and single-column sorts can only
    serve one predicate family."""
    path = _table_dir(sf_dir, "optimize_zorder")
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # both cluster keys are seeded-hash buckets so every Z-quadrant is
    # uniformly populated at every scale factor (raw id/day columns are
    # skewed or narrow at small SFs, which would empty some quadrants and
    # make the published file counts SF-dependent)
    def hkey(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("event_id").cast("string"), F.lit(salt))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    src = ev.select(
        hkey(":x").alias("xk"), hkey(":y").alias("yk"), "value", "event_id"
    )
    for i in range(8):
        deltalite.write(
            spark,
            src.filter(F.col("event_id") % 8 == i).drop("event_id").coalesce(1),
            path,
            "overwrite" if i == 0 else "append",
        )
    files_before = deltalite.scan_file_counts(path)[1]
    deltalite.optimize(spark, path, n_files=4, zorder_by=("xk", "yk"))
    files_after = deltalite.scan_file_counts(path)[1]
    scanned_low_x = deltalite.scan_file_counts(
        path, skip_filters=[("xk", "<=", 15)]
    )[0]
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("xk").alias("xk_sum"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("value_sum"),
    ).select(
        "n_rows",
        "xk_sum",
        "value_sum",
        F.lit(files_before).cast("int").alias("files_before"),
        F.lit(files_after).cast("int").alias("files_after"),
        F.lit(scanned_low_x).cast("int").alias("files_scanned_low_x"),
    )


_ORDERS_BY_PRIORITY = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderpriority
"""


def _deltalite_stream(
    spark: SparkSession, path: str, change_feed: bool = False
) -> DataFrame:
    """``spark.readStream`` over the DeltaLite table at ``path``
    (``sources/deltalite_stream.py``), registering the source once per
    session."""
    from dbt_spark_models_spark.sources.deltalite_stream import (
        DeltaLiteStreamSource,
    )

    try:
        spark.dataSource.register(DeltaLiteStreamSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    return (
        spark.readStream.format("deltalite_stream")
        .option("path", path)
        .option("changeFeed", str(change_feed).lower())
        .load()
    )


def _stream_orders_tail(spark: SparkSession, sf_dir: str, gate: str) -> DataFrame:
    """Build orders as 3 append commits plus one OPTIMIZE compaction,
    then stream the table and aggregate per priority. The streamed
    aggregate must equal the plain batch aggregate of the whole source
    table, which proves (a) every append surfaced exactly once across
    micro-batches and (b) the dataChange=false OPTIMIZE commit was
    invisible to the stream even though it rewrote every file."""
    from dbt_spark_models_spark.streaming.pipelines import _run_to_memory

    path = _table_dir(sf_dir, gate)
    for i in range(3):
        deltalite.write(
            spark,
            _orders_slice(spark, sf_dir, i).coalesce(2),
            path,
            "overwrite" if i == 0 else "append",
        )
    # layout-only rewrite — must NOT reach the stream
    deltalite.optimize(spark, path, n_files=2)
    agg = (
        _deltalite_stream(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )
    return _run_to_memory(agg, "complete")


@query("streaming_deltalite_source_tail", oracle=_ORDERS_BY_PRIORITY)
def streaming_deltalite_source_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeltaLite as a Structured-Streaming SOURCE (Spark 4 Python
    streaming DataSource API): the commit log IS the stream — offsets are
    log versions, each micro-batch is exactly the rows the commits in
    (start, end] added, and an OPTIMIZE is invisible — the property that
    lets layout maintenance run under live consumers
    (``_stream_orders_tail``).

    Scale: ``partitions(start, end)`` plans one InputPartition per added
    file on the driver (metadata-rate log replay) and ``read(partition)``
    runs on executors, so a micro-batch scan parallelizes like any
    parquet read (`sources/deltalite_stream.py`)."""
    return _stream_orders_tail(spark, sf_dir, "stream_source")


@query(
    "engine_deltalite_targeted_delete",
    oracle="""
WITH params AS (
    SELECT CAST(CEIL((MAX(o_custkey) + 1) / 8.0) AS BIGINT) AS w FROM orders
), buckets AS (
    -- one committed file per NON-EMPTY key range; a file is rewritten iff
    -- its stats overlap the delete predicate (min key under the cutoff)
    SELECT o_custkey // w AS b, MIN(o_custkey) AS mn
    FROM orders, params GROUP BY 1
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS total_price,
       CAST((SELECT COUNT(*) FROM buckets, params WHERE mn > w + w // 2)
            AS INT) AS files_untouched,
       CAST((SELECT COUNT(*) FROM buckets, params WHERE mn <= w + w // 2)
            AS INT) AS files_rewritten
FROM orders, params
WHERE NOT (o_custkey <= w + w // 2)
""",
)
def engine_deltalite_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted copy-on-write DELETE — the 100 TB GDPR-erasure shape:
    orders land as 8 single-file commits with disjoint o_custkey ranges
    (standing in for a customer-clustered production table), then ONE
    delete commit removes every row with o_custkey <= cutoff. The
    published evidence: 6 of 8 files are untouched (their stats prove no
    match — never read, never rewritten), only 2 are rewritten; the
    remaining table must equal the oracle's NOT-matching aggregate
    exactly. Contrast ``Runner.erase``, which rewrites whole tables when
    keys are scattered — clustering + stats turn erasure into a
    file-local operation.

    Scale: rewrite cost ∝ files containing the cohort, not table size;
    the commit is one atomic log append either way."""
    path = _table_dir(sf_dir, "targeted_delete")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    src = o.select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    mx = src.agg(F.max("o_custkey")).collect()[0][0]  # 1-row probe
    w = (mx + 8) // 8
    for i in range(8):
        part = src.filter(
            (F.col("o_custkey") >= i * w) & (F.col("o_custkey") < (i + 1) * w)
        ).coalesce(1)
        deltalite.write(spark, part, path, "overwrite" if i == 0 else "append")
    cutoff = w + w // 2
    _, untouched, rewritten = deltalite.delete(
        spark, path, [("o_custkey", "<=", cutoff)]
    )
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").alias("cust_sum"),
        F.sum("o_totalprice").cast("double").alias("total_price"),
    ).select(
        "n_rows",
        "cust_sum",
        "total_price",
        F.lit(untouched).cast("int").alias("files_untouched"),
        F.lit(rewritten).cast("int").alias("files_rewritten"),
    )


@query(
    "engine_deltalite_merge_acid",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DECIMAL(18, 2)) AS price
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
), src AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DECIMAL(18, 2)) * 2 AS price
    FROM orders WHERE o_orderkey % 4 IN (1, 2)
), merged AS (
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey)
    UNION ALL
    SELECT * FROM src
)
SELECT o_orderkey % 4 AS key_bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM merged GROUP BY o_orderkey % 4
""",
)
def engine_deltalite_merge_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert through the DeltaLite commit protocol: v0 commits a
    base slice, then one MERGE commit upserts a source that UPDATES the
    overlapping keys (%4==1, price doubled) and INSERTS new ones (%4==2).
    The rewrite and the file swap land in ONE atomic log append — readers
    see pre- or post-merge, never between (the property the parquet
    staging-swap in ``plans/materialize.py:167`` approximates and real
    delta guarantees; here the guarantee is real because visibility IS
    the log). Oracle recomputes the dbt-spark merge semantics
    (``macros/spark_adapter_patch/create_table.sql:21-38``) from source.

    Scale: like real delta, the rewrite set is pruned to the files whose
    key-range stats overlap the source — non-overlapping files keep their
    bytes untouched (pytest: test_merge_rewrites_only_overlapping_files);
    here the base slice is key-interleaved so every file overlaps and the
    full dbt-spark merge semantics are exercised."""
    path = _table_dir(sf_dir, "merge_acid")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).filter(F.col("o_orderkey") % 4 < 2)
    src = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 2).alias("price"),
    ).filter((F.col("o_orderkey") % 4).isin(1, 2))
    deltalite.write(spark, base.coalesce(4), path, "overwrite")
    deltalite.merge(spark, src.coalesce(4), path, ["o_orderkey"])
    final = deltalite.read(spark, path)
    return final.groupBy((F.col("o_orderkey") % 4).alias("key_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("total_price"),
    )


@query(
    "sink_deltalite_partition_pruning",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS total_price,
       CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM orders
             WHERE o_orderstatus = 'F') AS INT) AS files_scanned,
       CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM orders) AS INT)
           AS files_total
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def sink_deltalite_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned table (spec: metaData ``partitionColumns``
    + per-add ``partitionValues``): orders land partitioned by
    o_orderstatus (3 values → 3 files: repartition(col) hashes all rows
    of a value into one task, and each task writes one file per value it
    holds), then a status-equality read prunes on the LOG's
    partitionValues — 1 of 3 files survives before Spark lists anything —
    and the aggregate over the pruned read must equal the oracle's plain
    filtered aggregate (pruning is provably lossless, not sampled).

    Partition values are the strongest zone map (every row equals the
    value exactly), and at 100 TB they prune without opening a single
    parquet footer: the reference's models partition by day for the same
    reason (``partition_by`` on 197 model configs). The partition column
    itself lives in directory names, not the data files — read()
    reconstructs it via Spark's partition discovery."""
    path = _table_dir(sf_dir, "partition_pruning")
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    deltalite.write(
        spark,
        o.repartition("o_orderstatus"),
        path,
        partition_by=["o_orderstatus"],
    )
    filters = [("o_orderstatus", "=", "F")]
    kept, total = deltalite.scan_file_counts(path, skip_filters=filters)
    snap = deltalite.read(spark, path, skip_filters=filters).filter(
        F.col("o_orderstatus") == "F"
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    ).select(
        "n_rows",
        "key_sum",
        "total_price",
        F.lit(kept).cast("int").alias("files_scanned"),
        F.lit(total).cast("int").alias("files_total"),
    )


@query(
    "sink_deltalite_schema_evolution",
    oracle="""
WITH unioned AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18, 2)) AS price,
           CAST(NULL AS VARCHAR) AS priority_class
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18, 2)),
           o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 1
)
SELECT COALESCE(priority_class, '<pre-evolution>') AS priority_class,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS price_sum,
       2 AS cols_v0,
       3 AS cols_v1
FROM unioned
GROUP BY 1
""",
)
def sink_deltalite_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on append (spec: the latest commit's metaData
    schemaString IS the table schema): v0 commits (o_orderkey, price),
    v1 appends a batch carrying a NEW priority_class column. The evolved
    read null-fills the column for v0's files — which are NOT rewritten —
    and versionAsOf 0 still sees the 2-column schema (cols_v0/cols_v1 are
    the published schema-width evidence, read from table metadata, no
    data motion).

    This is mergeSchema-on-write at the log level: at 100 TB adding a
    column costs one metadata commit, zero file rewrites — the property
    that makes wide gold tables evolvable in place (the reference's
    models grow columns across releases the same way)."""
    path = _table_dir(sf_dir, "schema_evolution")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    widened = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderpriority").alias("priority_class"),
    )
    deltalite.write(spark, base, path)
    deltalite.write(spark, widened, path, "append")
    cols_v0 = len(deltalite.read(spark, path, version=0).columns)
    snap = deltalite.read(spark, path)
    cols_v1 = len(snap.columns)
    return (
        snap.groupBy(
            F.coalesce(F.col("priority_class"), F.lit("<pre-evolution>")).alias(
                "priority_class"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("price").cast("double").alias("price_sum"),
        )
        .select(
            "priority_class",
            "n_rows",
            "key_sum",
            "price_sum",
            F.lit(cols_v0).cast("int").alias("cols_v0"),
            F.lit(cols_v1).cast("int").alias("cols_v1"),
        )
    )


@query(
    "engine_deltalite_column_rename",
    oracle="""
SELECT o_orderpriority AS priority_class,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS price_sum,
       0 AS files_rewritten
FROM orders
GROUP BY 1
""",
)
def engine_deltalite_column_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename via the spec's column mapping
    (``delta.columnMapping.mode = name``): o_totalprice becomes ``price``
    in ONE metadata commit. The data-file set before and after the rename
    is compared in-plan (files_rewritten must be 0 — the published
    evidence that no bytes moved), reads alias the old physical column to
    the new logical name, and the post-rename aggregate must match the
    oracle computed straight from the source — proving the alias is
    lossless.

    At 100 TB a rename is O(1) metadata vs a full-table rewrite on plain
    parquet; it is also the migration primitive the reference's model
    releases rely on (column renames between model versions)."""
    path = _table_dir(sf_dir, "column_rename")
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    deltalite.write(spark, o, path)
    before, _ = deltalite._replay(path)
    deltalite.rename_column(path, "o_totalprice", "price")
    after, _ = deltalite._replay(path)
    rewritten = len(set(before) ^ set(after))
    snap = deltalite.read(spark, path)
    return (
        snap.groupBy(F.col("o_orderpriority").alias("priority_class"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
        )
        .select(
            "priority_class",
            "n_rows",
            "key_sum",
            "price_sum",
            F.lit(rewritten).cast("int").alias("files_rewritten"),
        )
    )


@query(
    "engine_deltalite_merge_pruned",
    oracle="""
WITH params AS (
    SELECT CAST(CEIL((MAX(o_orderkey) + 1) / 8.0) AS BIGINT) AS w FROM orders
), buckets AS (
    -- one committed file per NON-EMPTY key range; a file is rewritten by
    -- the merge iff its key range intersects the source's [min, max]
    SELECT o_orderkey // w AS b,
           MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
    FROM orders, params GROUP BY 1
), srng AS (
    SELECT MIN(o_orderkey) AS smn, MAX(o_orderkey) AS smx
    FROM orders, params
    WHERE o_orderkey >= w AND o_orderkey <= w + w // 2
), merged AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey >= w AND o_orderkey <= w + w // 2
                THEN CAST(o_totalprice AS DECIMAL(18, 2)) * 2
                ELSE CAST(o_totalprice AS DECIMAL(18, 2)) END AS price
    FROM orders, params
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS total_price,
       CAST((SELECT COUNT(*) FROM buckets, srng
             WHERE NOT (mn <= smx AND mx >= smn)) AS INT) AS files_untouched,
       CAST((SELECT COUNT(*) FROM buckets, srng
             WHERE mn <= smx AND mx >= smn) AS INT) AS files_rewritten
FROM merged
""",
)
def engine_deltalite_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned MERGE — the companion evidence gate to
    ``engine_deltalite_targeted_delete``: orders land as 8 single-file
    commits with disjoint o_orderkey ranges, then ONE merge commit
    upserts a source that doubles the price of every key in
    [w, w + w/2]. Only the files whose key-range stats overlap the
    source's 1-row min/max probe are removed and rewritten; the published
    files_untouched/files_rewritten columns (computed from the active
    file set before/after) prove the other files' bytes never moved, and
    the post-merge aggregate must equal the oracle's recomputation.

    Scale: rewrite cost ∝ files containing upserted keys, not table size
    — the property that makes continuous upsert ingestion viable on a
    clustered 100 TB table (real delta prunes matched files identically).
    Cites the dbt-spark merge semantics the reference snapshots rely on
    (``macros/spark_adapter_patch/create_table.sql:21-38``)."""
    path = _table_dir(sf_dir, "merge_pruned")
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]  # 1-row probe
    w = (mx + 8) // 8
    for i in range(8):
        part = o.filter(
            (F.col("o_orderkey") >= i * w) & (F.col("o_orderkey") < (i + 1) * w)
        ).coalesce(1)
        deltalite.write(spark, part, path, "overwrite" if i == 0 else "append")
    src = o.filter(
        (F.col("o_orderkey") >= w) & (F.col("o_orderkey") <= w + w // 2)
    ).withColumn("price", (F.col("price") * 2).cast("decimal(18,2)"))
    before = set(deltalite._replay(path)[0])
    deltalite.merge(spark, src.coalesce(1), path, ["o_orderkey"])
    after = set(deltalite._replay(path)[0])
    untouched = len(before & after)
    rewritten = len(before - after)
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum("price").cast("double").alias("total_price"),
    ).select(
        "n_rows",
        "key_sum",
        "total_price",
        F.lit(untouched).cast("int").alias("files_untouched"),
        F.lit(rewritten).cast("int").alias("files_rewritten"),
    )


@query(
    "sink_deltalite_change_feed",
    oracle="""
WITH params AS (
    SELECT MAX(o_orderkey) // 2 AS cutoff FROM orders
), base AS (
    SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18, 2)) AS price
    FROM orders
), b AS (
    SELECT * FROM base WHERE k % 3 = 1
), upd_pre AS (
    SELECT * FROM base WHERE k % 6 = 0
), upd_post AS (
    SELECT k, CAST(price * 2 AS DECIMAL(18, 2)) AS price
    FROM base WHERE k % 6 = 0
), ins AS (
    SELECT k, CAST(price * 2 AS DECIMAL(18, 2)) AS price
    FROM base WHERE k % 6 = 2
), state3 AS (
    SELECT k, price FROM base WHERE k % 3 = 0 AND k % 6 <> 0
    UNION ALL SELECT * FROM upd_post
    UNION ALL SELECT * FROM b
    UNION ALL SELECT * FROM ins
), del AS (
    SELECT s.k, s.price FROM state3 s, params WHERE s.k <= cutoff
), feed AS (
    SELECT 1 AS commit_version, 'insert' AS change_type, k, price FROM b
    UNION ALL SELECT 2, 'update_preimage', k, price FROM upd_pre
    UNION ALL SELECT 2, 'update_postimage', k, price FROM upd_post
    UNION ALL SELECT 2, 'insert', k, price FROM ins
    UNION ALL SELECT 3, 'delete', k, price FROM del
)
SELECT commit_version, change_type,
       COUNT(*) AS n_rows,
       CAST(SUM(k) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS price_sum
FROM feed GROUP BY 1, 2
""",
)
def sink_deltalite_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed (spec: ``cdc`` actions + ``_change_data/``
    files): the table lives through create(v0) / append(v1) /
    MERGE(v2: every (k%6==0)th key repriced ×2, every (k%6==2)th
    inserted) / targeted DELETE(v3: keys under the median), and
    ``read_changes(1, 3)`` must reproduce EXACTLY the per-commit row
    changes — appends as derived inserts, the merge via its CDC files
    (updated keys twice: update_preimage at the old price and
    update_postimage at the new — the carried-over rows of the rewritten
    files must NOT leak into the feed), the delete via its CDC file of
    exactly the deleted rows. The oracle recomputes all five
    (commit, change_type) groups from source.

    Scale: CDF is the incremental-consumption primitive — a downstream
    consumer updates from |changed rows| per commit instead of diffing
    two 100 TB snapshots; per-commit file lists come from the log
    (metadata-only), CDC files are written once by the DML that already
    scanned those rows. Reference parity: delta's
    table_changes()/readChangeFeed surface (file_format='delta' ×197)."""
    path = _table_dir(sf_dir, "change_feed")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    deltalite.write(spark, base.filter(F.col("k") % 3 == 0).coalesce(2), path)
    deltalite.write(
        spark, base.filter(F.col("k") % 3 == 1).coalesce(2), path, "append"
    )
    src = base.filter((F.col("k") % 6).isin(0, 2)).withColumn(
        "price", (F.col("price") * 2).cast("decimal(18,2)")
    )
    deltalite.merge(spark, src.coalesce(2), path, ["k"])
    cutoff = base.agg(F.max("k")).collect()[0][0] // 2  # 1-row probe
    deltalite.delete(spark, path, [("k", "<=", cutoff)])
    feed = deltalite.read_changes(spark, path, 1, 3)
    return (
        feed.groupBy(
            F.col(deltalite.COMMIT_VERSION_COL).alias("commit_version"),
            F.col(deltalite.CHANGE_TYPE_COL).alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("key_sum"),
            F.sum("price").cast("double").alias("price_sum"),
        )
    )


@query(
    "engine_deltalite_cdf_incremental_agg",
    oracle="""
WITH params AS (
    SELECT MAX(o_orderkey) // 2 AS cutoff FROM orders
), base AS (
    SELECT o_orderkey AS k, o_orderpriority AS pri,
           CAST(o_totalprice AS DECIMAL(18, 2)) AS price
    FROM orders
), state3 AS (
    -- the table's FINAL state after append(v1) / merge(v2) / delete(v3)
    SELECT k, pri, price FROM (
        SELECT k, pri, price FROM base WHERE k % 3 = 0 AND k % 6 <> 0
        UNION ALL
        SELECT k, pri, CAST(price * 2 AS DECIMAL(18, 2)) FROM base
        WHERE k % 6 = 0
        UNION ALL
        SELECT k, pri, price FROM base WHERE k % 3 = 1
        UNION ALL
        SELECT k, pri, CAST(price * 2 AS DECIMAL(18, 2)) FROM base
        WHERE k % 6 = 2
    ) s, params WHERE s.k > cutoff
)
SELECT pri,
       COUNT(*) AS n_orders,
       CAST(SUM(k) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS price_sum
FROM state3 GROUP BY pri
""",
)
def engine_deltalite_cdf_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental downstream maintenance FROM the change feed — the
    consumption pattern CDF exists for: a per-priority aggregate is
    computed as (v0 snapshot) + (signed feed rows), where inserts and
    update_postimages contribute +1 and deletes and update_preimages
    contribute −1. If the feed is algebraically exact (every change
    surfaced exactly once with the right polarity), the telescoped sum
    equals the oracle's direct aggregate of the FINAL table state — the
    v1/v2/v3 commits are never re-scanned as snapshots.

    Scale: this is how a 100 TB gold aggregate follows a silver table —
    work per refresh ∝ |changed rows| in the consumed commit window, not
    table size; contrast the reference's insert-overwrite marts, which
    re-aggregate whole partitions
    (``macros/spark_adapter_patch/incremental.sql``)."""
    path = _table_dir(sf_dir, "cdf_incremental")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    deltalite.write(spark, base.filter(F.col("k") % 3 == 0).coalesce(2), path)
    deltalite.write(
        spark, base.filter(F.col("k") % 3 == 1).coalesce(2), path, "append"
    )
    src = base.filter((F.col("k") % 6).isin(0, 2)).withColumn(
        "price", (F.col("price") * 2).cast("decimal(18,2)")
    )
    deltalite.merge(spark, src.coalesce(2), path, ["k"])
    cutoff = base.agg(F.max("k")).collect()[0][0] // 2  # 1-row probe
    deltalite.delete(spark, path, [("k", "<=", cutoff)])
    v0 = deltalite.read(spark, path, version=0).withColumn(
        "sign", F.lit(1)
    )
    feed = deltalite.read_changes(spark, path, 1, 3).select(
        "k",
        "pri",
        "price",
        F.when(
            F.col(deltalite.CHANGE_TYPE_COL).isin("insert", "update_postimage"),
            1,
        )
        .otherwise(-1)
        .alias("sign"),
    )
    signed = v0.select("k", "pri", "price", "sign").unionByName(feed)
    return (
        signed.groupBy("pri")
        .agg(
            F.sum("sign").alias("n_orders"),
            F.sum(F.col("k") * F.col("sign")).alias("key_sum"),
            F.sum(F.col("price") * F.col("sign")).cast("double").alias("price_sum"),
        )
        .filter(F.col("n_orders") > 0)
    )


@query(
    "streaming_deltalite_cdf_tail",
    oracle="""
WITH params AS (
    SELECT MAX(o_orderkey) // 2 AS cutoff FROM orders
), base AS (
    SELECT o_orderkey AS k, o_orderpriority AS pri,
           CAST(o_totalprice AS DECIMAL(18, 2)) AS price
    FROM orders
), state3 AS (
    SELECT k, pri, price FROM (
        SELECT k, pri, price FROM base WHERE k % 3 = 0 AND k % 6 <> 0
        UNION ALL
        SELECT k, pri, CAST(price * 2 AS DECIMAL(18, 2)) FROM base
        WHERE k % 6 = 0
        UNION ALL
        SELECT k, pri, price FROM base WHERE k % 3 = 1
        UNION ALL
        SELECT k, pri, CAST(price * 2 AS DECIMAL(18, 2)) FROM base
        WHERE k % 6 = 2
    ) s, params WHERE s.k > cutoff
)
SELECT pri,
       COUNT(*) AS n_orders,
       CAST(SUM(k) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS price_sum
FROM state3 GROUP BY pri
""",
)
def streaming_deltalite_cdf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed (Delta's ``readChangeFeed`` as a
    Structured-Streaming source, ``.option("changeFeed", "true")``): the
    table lives through create / append / MERGE / targeted DELETE, and
    the streamed feed — cdc files for the DML commits, derived inserts
    for the appends, ``_change_type``/``_commit_version`` appended — is
    folded into a signed per-priority aggregate (+1 insert/postimage,
    −1 delete/preimage). Telescoping from the empty state, the streamed
    aggregate must equal the oracle's direct aggregate of the FINAL
    table, which proves every change surfaced exactly once with the
    right polarity THROUGH the streaming offsets path.

    This is what the append-only stream cannot do (it raises on
    rewriting commits): with CDF a downstream streaming consumer follows
    a table through upserts and deletes. Scale: per micro-batch work ∝
    changed rows in the commit window, planned as one InputPartition per
    change file and read on executors."""
    from dbt_spark_models_spark.streaming.pipelines import _run_to_memory

    path = _table_dir(sf_dir, "stream_cdf")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    deltalite.write(spark, base.filter(F.col("k") % 3 == 0).coalesce(2), path)
    deltalite.write(
        spark, base.filter(F.col("k") % 3 == 1).coalesce(2), path, "append"
    )
    src = base.filter((F.col("k") % 6).isin(0, 2)).withColumn(
        "price", (F.col("price") * 2).cast("decimal(18,2)")
    )
    deltalite.merge(spark, src.coalesce(2), path, ["k"])
    cutoff = base.agg(F.max("k")).collect()[0][0] // 2  # 1-row probe
    deltalite.delete(spark, path, [("k", "<=", cutoff)])
    signed = _deltalite_stream(spark, path, change_feed=True).select(
        "pri",
        "k",
        "price",
        F.when(
            F.col(deltalite.CHANGE_TYPE_COL).isin("insert", "update_postimage"),
            1,
        )
        .otherwise(-1)
        .alias("sign"),
    )
    agg = (
        signed.groupBy("pri")
        .agg(
            F.sum("sign").alias("n_orders"),
            F.sum(F.col("k") * F.col("sign")).alias("key_sum"),
            F.sum(F.col("price") * F.col("sign")).cast("double").alias("price_sum"),
        )
    )
    return _run_to_memory(agg, "complete").filter(F.col("n_orders") > 0)


@query("streaming_deltalite_partitioned_tail", oracle=_ORDERS_BY_PRIORITY)
def streaming_deltalite_partitioned_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same streaming tail as ``streaming_deltalite_source_tail`` in
    its own table dir: the registry keeps both names, and both read
    through the one partitioned reader (one InputPartition per committed
    file, read on executors) — every file surfaced exactly once."""
    return _stream_orders_tail(spark, sf_dir, "stream_dist")


@query(
    "sink_deltalite_restore",
    oracle="""
WITH v1state AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18, 2)) AS price
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(price) AS DOUBLE) AS total_price,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 2) AS v2_rows,
       4 AS n_versions
FROM v1state
""",
)
def sink_deltalite_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION AS OF: after create(v0) / append(v1) /
    overwrite(v2), ``restore(1)`` commits v3 whose adds/removes turn the
    active set back into v1's — re-adding v1's files with their ORIGINAL
    add payloads, zero data movement. The latest snapshot must equal the
    v1 union exactly (the oracle recomputes it from source), the
    published v2_rows proves the overwritten state REMAINS time-travelable
    (history is preserved, not erased), and n_versions shows the restore
    is itself a new commit.

    Scale: rollback of a bad load on a 100 TB table is one metadata
    commit — no copy-back, no rewrite; contrast parquet tables, where
    undo means re-materializing from upstream."""
    path = _table_dir(sf_dir, "restore")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    for i, mode in ((0, "overwrite"), (1, "append"), (2, "overwrite")):
        deltalite.write(
            spark, base.filter(F.col("o_orderkey") % 3 == i).coalesce(2), path, mode
        )
    deltalite.restore(spark, path, 1)
    n_versions = len(deltalite._list_versions(path))
    v2_rows = deltalite.read(spark, path, version=2).count()
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum("price").cast("double").alias("total_price"),
    ).select(
        "n_rows",
        "key_sum",
        "total_price",
        F.lit(v2_rows).cast("long").alias("v2_rows"),
        F.lit(n_versions).cast("int").alias("n_versions"),
    )


@query(
    "engine_deltalite_dv_delete",
    oracle="""
WITH params AS (
    SELECT CAST(CEIL((MAX(o_custkey) + 1) / 8.0) AS BIGINT) AS w FROM orders
), buckets AS (
    SELECT o_custkey // w AS b, MIN(o_custkey) AS mn
    FROM orders, params GROUP BY 1
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
           AS total_price,
       CAST((SELECT COUNT(*) FROM buckets, params WHERE mn > w + w // 2)
            AS INT) AS files_untouched,
       CAST((SELECT COUNT(*) FROM buckets, params WHERE mn <= w + w // 2)
            AS INT) AS files_repointed,
       CAST(0 AS INT) AS new_data_files
FROM orders, params
WHERE NOT (o_custkey <= w + w // 2)
""",
)
def engine_deltalite_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE (merge-on-read, modern Delta's DV feature)
    — the companion to ``engine_deltalite_targeted_delete``: same 8
    disjoint-range files, same cutoff predicate, but the delete writes
    ONE tombstone sidecar of matching row addresses instead of
    rewriting anything. Published evidence: the 2 stats-overlapping
    files are RE-POINTED at the sidecar (remove+re-add of the same
    path), 6 are untouched, and ``new_data_files`` is 0 — zero data
    bytes written for the data; the surviving aggregate still matches
    the oracle exactly because readers anti-join the tombstones at scan
    time.

    Scale: DELETE cost ∝ matching rows (the tombstone write), not
    ∝ bytes of the files containing them — on a 100 TB table where a
    GDPR cohort grazes thousands of wide files, this is the difference
    between minutes and a cluster-day; OPTIMIZE later purges tombstones
    on its own schedule."""
    path = _table_dir(sf_dir, "dv_delete")
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    src = o.select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    mx = src.agg(F.max("o_custkey")).collect()[0][0]  # 1-row probe
    w = (mx + 8) // 8
    for i in range(8):
        part = src.filter(
            (F.col("o_custkey") >= i * w) & (F.col("o_custkey") < (i + 1) * w)
        ).coalesce(1)
        deltalite.write(spark, part, path, "overwrite" if i == 0 else "append")
    data_before = {
        f for f in os.listdir(path) if f.startswith("part-")
    }
    cutoff = w + w // 2
    _, untouched, repointed = deltalite.delete(
        spark, path, [("o_custkey", "<=", cutoff)], deletion_vectors=True
    )
    new_files = len(
        {f for f in os.listdir(path) if f.startswith("part-")} - data_before
    )
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").alias("cust_sum"),
        F.sum("o_totalprice").cast("double").alias("total_price"),
    ).select(
        "n_rows",
        "cust_sum",
        "total_price",
        F.lit(untouched).cast("int").alias("files_untouched"),
        F.lit(repointed).cast("int").alias("files_repointed"),
        F.lit(new_files).cast("int").alias("new_data_files"),
    )


@query(
    "engine_deltalite_schema_policy",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_named,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18, 2))) AS DOUBLE) AS acctbal_sum,
       CAST(1 AS INT) AS appendonly_enforced,
       CAST(0 AS INT) AS resurrected_names
FROM customer
""",
)
def engine_deltalite_schema_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema + policy lifecycle in one table: metadata-only DROP COLUMN
    (zero rewrites), appends without the dropped column, a later append
    RE-ADDING the same logical name (must mint a fresh physical name —
    the dropped values can never resurrect; ``resurrected_names`` proves
    0), and ``delta.appendOnly`` turning the table into an audit log
    (``appendonly_enforced`` proves DELETE refuses).

    Scale: every step here is a metadata commit — drop, property set —
    or an append; nothing rewrites a data byte. That is the point: on a
    100 TB audit table, schema surgery and policy changes are O(1)."""
    path = _table_dir(sf_dir, "schema_policy")
    c = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"),
    )
    rem = F.col("c_custkey") % 4
    deltalite.write(spark, c.filter(rem.isin(1, 3)).coalesce(1), path)
    deltalite.drop_column(path, "c_name")
    deltalite.write(
        spark,
        c.filter(rem == 2).select("c_custkey", "c_acctbal").coalesce(1),
        path,
        "append",
    )
    # re-add the logical name: fresh physical column, old bytes stay dark
    deltalite.write(
        spark,
        c.filter(rem == 0)
        .select("c_custkey", "c_acctbal", F.lit("redacted").alias("c_name"))
        .coalesce(1),
        path,
        "append",
    )
    deltalite.set_table_property(path, "delta.appendOnly", "true")
    try:
        deltalite.delete(spark, path, [("c_custkey", ">=", 0)])
        enforced = 0
    except ValueError:
        enforced = 1
    snap = deltalite.read(spark, path)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("key_sum"),
        F.sum(F.col("c_name").isNotNull().cast("long")).alias("n_named"),
        F.sum("c_acctbal").cast("double").alias("acctbal_sum"),
        F.sum(
            (F.col("c_name").isNotNull() & (F.col("c_custkey") % 4 != 0))
            .cast("long")
        )
        .cast("int")
        .alias("resurrected_names"),
    ).select(
        "n_rows",
        "key_sum",
        "n_named",
        "acctbal_sum",
        F.lit(enforced).cast("int").alias("appendonly_enforced"),
        "resurrected_names",
    )


@query(
    "engine_deltalite_generated_partition",
    oracle="""
WITH ev AS (
    SELECT event_id, value, CAST(ts AS DATE) AS day FROM events
), min_day AS (
    SELECT MIN(day) AS d FROM ev
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS value_sum,
       CAST(1 AS INT) AS pruned_ok
FROM ev WHERE day = (SELECT d FROM min_day)
""",
)
def engine_deltalite_generated_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED COLUMNS as derived partition keys (the spec's
    ``delta.generationExpression`` + the canonical production layout:
    ``day = CAST(ts AS DATE)`` partitioning an event stream). The table
    is created declaring the generated day column; a second slice is
    APPENDED WITHOUT the column — the writer computes it from the
    committed schema's expression — and the min-day read must (a) prune
    to a strict subset of files on the LOG and (b) aggregate to the
    oracle's plain filtered recompute over the raw events.

    Scale: the generated key gives log-level partition pruning to every
    query that filters the DERIVATION of a base column — at 100 TB the
    day-equality scan opens one directory of files, zero parquet footers
    elsewhere. The writer-side cost is one row-local expression per
    batch. The min-day probe is a 1-row driver agg (metadata-rate, the
    same class as MERGE's key-range probe)."""
    path = _table_dir(sf_dir, "generated_partition")
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "value"
    )
    first = ev.filter(F.col("event_id") % 3 != 2)
    rest = ev.filter(F.col("event_id") % 3 == 2)
    deltalite.write(
        spark,
        first.repartition(F.expr("CAST(ts AS DATE)")),
        path,
        generated={"day": "CAST(ts AS DATE)"},
        partition_by=["day"],
    )
    # append OMITS day: computed from the committed generation expression
    deltalite.write(
        spark, rest.repartition(F.expr("CAST(ts AS DATE)")), path, "append"
    )
    # 1-row probe: min(day) picks the pruning literal (metadata-rate)
    min_day = ev.agg(F.min(F.expr("CAST(ts AS DATE)"))).collect()[0][0]
    filters = [("day", "=", min_day)]
    kept, total = deltalite.scan_file_counts(path, skip_filters=filters)
    snap = deltalite.read(spark, path, skip_filters=filters).filter(
        F.col("day") == F.lit(min_day)
    )
    return snap.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    ).select(
        "n_rows",
        "id_sum",
        "value_sum",
        # lossless-pruning witness: the day-equality scan must touch a
        # strict subset of the table's files (the aggregates themselves
        # prove the pruned read lost no rows vs the oracle's recompute)
        F.lit(int(kept < total)).cast("int").alias("pruned_ok"),
    )


@query(
    "sink_deltalite_protocol_features",
    oracle="""
SELECT * FROM (VALUES
    (0, 'create',            1, 2, '', '', FALSE),
    (1, 'add_constraint',    1, 3, '', '', FALSE),
    (2, 'enable_cdf',        1, 4, '', '', FALSE),
    (3, 'rename_column',     2, 5, '', '', FALSE),
    -- the upgrade to table-features form lists every feature the prior
    -- LEGACY versions (2,5) implied, per the spec's upgrade rule
    (4, 'dv_delete',         3, 7, 'columnMapping,deletionVectors',
        'appendOnly,changeDataFeed,checkConstraints,columnMapping,deletionVectors,generatedColumns,invariants',
        FALSE),
    (5, 'unknown_reader_feature', 3, 7, 'futureRowMagic', 'futureRowMagic', TRUE),
    (6, 'unknown_writer_feature', 1, 7, '', 'futureWriteMagic', TRUE)
) AS t(stage, stage_name, min_reader, min_writer, reader_features,
       writer_features, refused)
""",
)
def sink_deltalite_protocol_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol negotiation / table-features handshake (public Delta
    PROTOCOL.md "Protocol Evolution" + "Table Features"; VERDICT r7 #4).

    A lifecycle of commits ratchets the protocol UP mid-history — create
    (1/2) → CHECK constraint (writer 3) → change data feed (writer 4) →
    rename under column mapping (2/5) → deletion-vector delete (3/7 with
    explicit readerFeatures/writerFeatures) — and the gate publishes the
    negotiated versions + feature lists after each stage, read back from
    the log by replay (so checkpoint and sticky-merge behavior are what
    is actually graded). Two doctored tables then prove the refusal
    side: a table demanding an unknown READER feature must fail
    read() loudly (stage 5), and one demanding only an unknown WRITER
    feature must still read but refuse writes (stage 6).

    Scale: the protocol fold rides the existing checkpoint-anchored log
    replay — pure driver-side metadata, no data files touched."""
    import json as _json

    path = _table_dir(sf_dir, "protocol_features")
    rows: list[tuple] = []

    def snap_proto(stage: int, name: str, refused: bool = False) -> None:
        p = deltalite.table_protocol(path)
        rows.append(
            (
                stage,
                name,
                p.get("minReaderVersion", 1),
                p.get("minWriterVersion", 1),
                ",".join(p.get("readerFeatures") or []),
                ",".join(p.get("writerFeatures") or []),
                refused,
            )
        )

    deltalite.write(
        spark, _orders_slice(spark, sf_dir, 0).coalesce(2), path, "overwrite"
    )
    snap_proto(0, "create")
    deltalite.add_check_constraint(
        spark, path, "price_nonneg", "o_totalprice >= 0"
    )
    snap_proto(1, "add_constraint")
    deltalite.set_table_property(path, "delta.enableChangeDataFeed", "true")
    snap_proto(2, "enable_cdf")
    deltalite.rename_column(path, "o_orderpriority", "priority")
    snap_proto(3, "rename_column")
    deltalite.delete(
        spark,
        path,
        [("o_orderkey", "<=", 64)],
        deletion_vectors=True,
    )
    snap_proto(4, "dv_delete")

    def doctored(gate: str, proto: dict) -> str:
        """A 1-commit table whose protocol demands features we don't
        implement (hand-written log — the point is refusing it)."""
        import os as _os

        dpath = _table_dir(sf_dir, gate)
        base = _table_dir(sf_dir, gate + "_seed")
        deltalite.write(
            spark, _orders_slice(spark, sf_dir, 2).limit(10).coalesce(1), base,
            "overwrite",
        )
        with open(
            _os.path.join(base, "_delta_log", "0" * 20 + ".json")
        ) as f:
            actions = [_json.loads(line) for line in f if line.strip()]
        out = []
        for a in actions:
            if "protocol" in a:
                out.append({"protocol": proto})
            else:
                out.append(a)
        _os.makedirs(_os.path.join(dpath, "_delta_log"), exist_ok=True)
        for a in out:
            if "add" in a:
                src = _os.path.join(base, a["add"]["path"])
                dst = _os.path.join(dpath, a["add"]["path"])
                _os.makedirs(_os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
        with open(_os.path.join(dpath, "_delta_log", "0" * 20 + ".json"), "w") as f:
            for a in out:
                f.write(_json.dumps(a, separators=(",", ":")) + "\n")
        return dpath

    reader_proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["futureRowMagic"],
        "writerFeatures": ["futureRowMagic"],
    }
    rpath = doctored("protocol_unknown_reader", reader_proto)
    try:
        deltalite.read(spark, rpath).count()
        read_refused = False
    except deltalite.DeltaProtocolError:
        read_refused = True
    rows.append(
        (5, "unknown_reader_feature", 3, 7, "futureRowMagic", "futureRowMagic",
         read_refused)
    )

    writer_proto = {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["futureWriteMagic"],
    }
    wpath = doctored("protocol_unknown_writer", writer_proto)
    deltalite.read(spark, wpath).count()  # read side must still work
    try:
        deltalite.write(
            spark, _orders_slice(spark, sf_dir, 2).limit(5), wpath, "append"
        )
        write_refused = False
    except deltalite.DeltaProtocolError:
        write_refused = True
    rows.append(
        (6, "unknown_writer_feature", 1, 7, "", "futureWriteMagic",
         write_refused)
    )

    return spark.createDataFrame(
        rows,
        "stage int, stage_name string, min_reader int, min_writer int, "
        "reader_features string, writer_features string, refused boolean",
    )
