"""DeltaLite's optimistic transaction (sources/deltalite.py ``_begin``):
a writer commits at the version it read + 1, so a commit that lands
between its snapshot and its commit makes it raise
``ConcurrentWriteError`` instead of being overwritten."""

from __future__ import annotations

import tempfile

import pytest

from dbt_spark_models_spark.sources import deltalite


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="deltalite-txn-") as d:
        yield d


@pytest.mark.parametrize(
    "ddl",
    [
        lambda path: deltalite.rename_column(path, "v", "w"),
        lambda path: deltalite.drop_column(path, "v"),
    ],
    ids=["rename_column", "drop_column"],
)
def test_column_ddl_loses_to_a_commit_after_its_snapshot(spark, tdir, monkeypatch, ddl):
    """A SET TBLPROPERTIES commit lands after the rename/drop has read
    its snapshot: the DDL must raise, and the property must survive (a
    commit at the new head + 1 would carry the older metaData and drop
    it)."""
    deltalite.write(spark, spark.createDataFrame([(1, "a")], "k int, v string"), tdir)
    check = deltalite._check_column_not_referenced

    def race(meta, name, verb):
        deltalite.set_table_property(tdir, "owner", "etl")
        check(meta, name, verb)

    monkeypatch.setattr(deltalite, "_check_column_not_referenced", race)
    with pytest.raises(deltalite.ConcurrentWriteError):
        ddl(tdir)
    monkeypatch.undo()
    assert deltalite.latest_version(tdir) == 1
    meta = deltalite._replay_state(tdir)["meta"]
    assert meta["configuration"]["owner"] == "etl"
    assert deltalite.read(spark, tdir).columns == ["k", "v"]
