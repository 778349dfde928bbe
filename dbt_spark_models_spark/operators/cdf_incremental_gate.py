"""Correctness gates for CDC-driven incremental materialization
(VERDICT r9 #4): the ``examples/cdf_incremental`` project built through
the Runner across THREE runs — full build, an insert-heavy increment
(key band widens), and an update-heavy increment (price multiplier
changes) — with the downstream aggregate consuming the upstream's
DeltaLite Change Data Feed via ``ref_changes()`` instead of lookback
re-reads, then verified against DuckDB oracles that recompute each
run's expected state from scratch.

What these prove: the ``ref_changes()`` Jinja surface (plans/jinja.py),
the Runner's consumed-version watermark bookkeeping (advances only on
commit, telescopes across runs — the ``engine_deltalite_cdf_overwrite``
contract, now through model execution), and the changed-keys MERGE
pattern's exactness across both insert- and update-shaped upstream
deltas.

Reference parity: the reference's incremental models re-read lookback
windows (``models/spark/base/active_devices.sql:46-48``); this is the
delta-native alternative a 100 TB deployment wants — per-run read cost
is |change window| + changed keys' rows, never the full upstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dbt_spark_models_spark.operators import gate_db, query, require_success

_EXAMPLE_PROJECT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "examples",
    "cdf_incremental",
)

def _shared_build(spark: SparkSession, sf_dir: str) -> dict:
    """{"db", "path", "monthly_path", "run2_version",
    "monthly_run2_version", "watermarks"} of the three-run build."""
    _, state = gate_db(
        spark,
        "cdf_inc_",
        sf_dir,
        probe="cust_rev_cdc",
        build=lambda db: _build(spark, sf_dir, db),
    )
    return state


_CHANGE_FROM = "1997-01-01"  # run 3's update window: only these months


def _build(spark: SparkSession, sf_dir: str, db: str) -> dict:
    """Run 1: full build at batch=0 (keys %4=0). Run 2: widen to batch=1
    — MERGE inserts the %4=1 keys upstream; consumers see the CDF window
    (v1 only). Run 3: same band, price_mult=2 restricted to orders from
    _CHANGE_FROM on — only those months' rows update, so the
    partition-surgical consumer must replace only those months. The
    watermark property on each consumer's log must telescope 0 → 1 → 2."""
    from dbt_spark_models_spark.plans import Project, Runner
    from dbt_spark_models_spark.plans import deltalite_tables as dlt
    from dbt_spark_models_spark.sources import deltalite

    project = Project.load(_EXAMPLE_PROJECT)
    down_path = None
    watermarks: list[int] = []
    run2_version = None
    monthly_run2_version = None
    runs = (
        {"batch": 0, "price_mult": 1},
        {"batch": 1, "price_mult": 1},
        {"batch": 1, "price_mult": 2, "change_from": _CHANGE_FROM},
    )
    for i, run_vars in enumerate(runs):
        runner = Runner(
            spark=spark,
            project=project,
            database=db,
            vars={"sf_dir": sf_dir, **run_vars},
        )
        require_success(runner.run(), f"cdf run {i + 1}")
        down_path = dlt.table_path(spark, db, "cust_rev_cdc")
        # the watermark rides each consumer commit as a SetTransaction
        # (atomic with the data, r11; was a tblproperty before)
        watermarks.append(
            int(
                deltalite._replay_state(down_path)["txns"][
                    "dbt_spark_models.cdf.orders_cdc"
                ]
            )
        )
        if i == 1:
            run2_version = deltalite.latest_version(down_path)
            monthly_run2_version = deltalite.latest_version(
                dlt.table_path(spark, db, "monthly_rev_cdc")
            )
    require_success(runner.test(), "cdf checks")
    return {
        "db": db,
        "path": down_path,
        "monthly_path": dlt.table_path(spark, db, "monthly_rev_cdc"),
        "run2_version": run2_version,
        "monthly_run2_version": monthly_run2_version,
        "watermarks": watermarks,
    }


_ORACLE_RUN2 = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
WHERE o_orderkey % 4 <= 1
GROUP BY o_custkey
"""

# final state: run 3 doubled prices ONLY for orders from _CHANGE_FROM on
_ORACLE_FINAL = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                * CASE WHEN o_orderdate >= DATE '{_CHANGE_FROM}'
                       THEN 2 ELSE 1 END) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderkey % 4 <= 1
GROUP BY o_custkey
"""


@query(
    "engine_cdf_incremental_final",
    oracle=_ORACLE_FINAL,
)
def engine_cdf_incremental_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final downstream state after the three runs: the update-shaped
    run 3 (price_mult 1→2, restricted to orders from _CHANGE_FROM on)
    reached the affected customers through the CDF window's update
    images, and the changed-keys MERGE recomputed each from the current
    upstream snapshot — customers with both pre- and post-window orders
    must blend the two multipliers, which only an exact change-window →
    key recompute gets right. The oracle recomputes the whole aggregate
    from scratch; agreement across ≥2 incremental runs proves the window
    covered exactly the upstream delta."""
    from dbt_spark_models_spark.plans import deltalite_tables as dlt
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    state = _shared_build(spark, sf_dir)
    return dlt.read(spark, state["db"], "cust_rev_cdc").select(
        "o_custkey", "n_orders", "revenue_cents"
    )


@query(
    "engine_cdf_incremental_run2_state",
    oracle=_ORACLE_RUN2,
)
def engine_cdf_incremental_run2_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Downstream state time-traveled back to run 2's commit: the
    insert-shaped increment (band %4=0 → %4<=1). The CDF window run 2
    consumed was upstream version 1 alone; the changed-keys recompute
    must equal the from-scratch aggregate at mult=1 — the first
    incremental run of the ≥2-run contract, pinned by time travel so
    run 3 can't mask a run-2 error."""
    from dbt_spark_models_spark.sources import deltalite
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    state = _shared_build(spark, sf_dir)
    return deltalite.read(
        spark, state["path"], version=state["run2_version"]
    ).select("o_custkey", "n_orders", "revenue_cents")


@query(
    "engine_cdf_watermark_telescopes",
    oracle="""
SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                      (CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
                      (CAST(3 AS BIGINT), CAST(2 AS BIGINT)))
    AS t(run, consumed_version)
""",
)
def engine_cdf_watermark_telescopes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The consumed-version watermark recorded in the DOWNSTREAM table's
    own delta log after each run: seeded at the upstream's just-built
    version (0) by the full build, then advanced to exactly the upstream
    version each incremental run consumed (1, then 2) — the telescoping
    contract: adjacent windows share no commit and miss none."""
    state = _shared_build(spark, sf_dir)
    rows = [
        (i + 1, v) for i, v in enumerate(state["watermarks"])
    ]
    return spark.createDataFrame(
        rows, "run bigint, consumed_version bigint"
    )


@query(
    "engine_cdf_partition_surgical",
    oracle=f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                * CASE WHEN o_orderdate >= DATE '{_CHANGE_FROM}'
                       THEN 2 ELSE 1 END) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderkey % 4 <= 1
GROUP BY 1
""",
)
def engine_cdf_partition_surgical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The partition-surgical CDF consumer
    (``examples/cdf_incremental/models/monthly_rev_cdc.sql``): each
    incremental run recomputes ONLY the months the change window names
    and replaces exactly those partitions in one dynamic-partition-
    overwrite commit — run 3 touched only months >= _CHANGE_FROM, so
    earlier months' partitions kept their run-2 bytes (file evidence in
    ``tests/test_cdf_incremental.py``). The oracle is the from-scratch
    monthly aggregate over the final upstream state."""
    from dbt_spark_models_spark.plans import deltalite_tables as dlt
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    state = _shared_build(spark, sf_dir)
    return dlt.read(spark, state["db"], "monthly_rev_cdc").select(
        "order_month", "n_orders", "revenue_cents"
    )


@query(
    "engine_cdf_delta_applied",
    oracle=_ORACLE_FINAL,
)
def engine_cdf_delta_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signed-delta CDF consumer
    (``examples/cdf_incremental/models/cust_rev_delta_applied.sql``):
    insert/update_postimage rows count +, delete/update_preimage rows
    count -, and the per-key delta aggregate merges onto the previous
    state ({{ this }}) WITHOUT ever re-reading the upstream — the
    streaming-aggregate shape, exact for additive measures. Matching the
    same from-scratch oracle as the changed-keys pattern proves the two
    delta-native strategies agree with each other AND with a full
    rebuild across the insert-shaped and update-shaped runs."""
    from dbt_spark_models_spark.plans import deltalite_tables as dlt
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    state = _shared_build(spark, sf_dir)
    return dlt.read(spark, state["db"], "cust_rev_delta_applied").select(
        "o_custkey", "n_orders", "revenue_cents"
    )
