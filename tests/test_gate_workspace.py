"""``operators.gate_db``: the build-once database every example-project
gate gets its workspace from. A trivial one-table build stands in for a
project build, so these run in seconds."""

from __future__ import annotations

import os

import pytest

from dbt_spark_models_spark.operators import GATE_ROOT, gate_db, run_scope

SF = "gate-workspace-test"  # only names the db; nothing reads it


def _one_table(spark, calls: list):
    def build(db: str) -> int:
        calls.append(db)
        spark.range(3).write.saveAsTable(f"{db}.t")
        return len(calls)

    return build


def test_second_call_reuses_the_finished_build(spark):
    calls: list = []
    build = _one_table(spark, calls)
    db, n = gate_db(spark, "t_gws_reuse_", SF, "scope", probe="t", build=build)
    assert (db, n) == ("t_gws_reuse_" + run_scope(SF, "scope"), 1)
    assert gate_db(spark, "t_gws_reuse_", SF, "scope", probe="t", build=build) == (
        db,
        1,
    )
    assert calls == [db]
    assert spark.table(f"{db}.t").count() == 3


def test_dropped_probe_triggers_a_rebuild(spark):
    calls: list = []
    build = _one_table(spark, calls)
    db, _ = gate_db(spark, "t_gws_probe_", SF, probe="t", build=build)
    spark.sql(f"DROP TABLE {db}.t")
    assert gate_db(spark, "t_gws_probe_", SF, probe="t", build=build) == (db, 2)
    assert calls == [db, db]


def test_failed_build_is_not_served_and_rebuilds_in_a_cleared_location(spark):
    def half_build(db: str) -> None:
        # the probe table exists, but the build never finishes
        spark.range(3).write.saveAsTable(f"{db}.t")
        raise RuntimeError("second run failed")

    with pytest.raises(RuntimeError, match="second run failed"):
        gate_db(spark, "t_gws_fail_", SF, probe="t", build=half_build)
    db = "t_gws_fail_" + run_scope(SF)
    assert spark.catalog.tableExists(f"{db}.t")
    stale = os.path.join(GATE_ROOT, db, "stale.txt")
    with open(stale, "w") as f:
        f.write("left behind by the failed build")

    calls: list = []
    build = _one_table(spark, calls)
    assert gate_db(spark, "t_gws_fail_", SF, probe="t", build=build) == (db, 1)
    assert calls == [db]
    assert not os.path.exists(stale)


def test_scd2_check_strategy_reads_a_run_scoped_db(spark, sf_dir):
    """A fixed db name made two processes share one physical location,
    and each one's rebuild deleted the other's files mid-scan."""
    from dbt_spark_models_spark.operators.engine_gate import (
        engine_scd2_check_strategy,
    )

    files = engine_scd2_check_strategy(spark, sf_dir).inputFiles()
    assert files
    assert all(f"_{run_scope(sf_dir)}/dim_supplier/" in f for f in files), files
