"""DeltaLite staging directories (sources/deltalite.py): a failed write
leaves none behind, ``vacuum`` reclaims one orphaned by a killed writer
once it has been idle for ``grace_ms``, and never one whose writer still
holds its lock."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from dbt_spark_models_spark.sources import deltalite


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="deltalite-staging-") as d:
        yield d


def _staging_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("_staging_"))


def _partial_write(staging, age_s=0):
    """A staging dir as a task leaves it: a committed part under
    ``_temporary``, every entry last modified ``age_s`` ago."""
    os.makedirs(os.path.join(staging, "_temporary"))
    with open(os.path.join(staging, "_temporary", "part-0.parquet"), "wb") as f:
        f.write(b"partial")
    then = time.time() - age_s
    for dp, ds, fs in os.walk(staging):
        for n in (".", *ds, *fs):
            os.utime(os.path.join(dp, n), (then, then))


@pytest.mark.parametrize("change_data", [False, True], ids=["data", "cdc"])
def test_failed_write_leaves_no_staging_dir(spark, tdir, change_data):
    deltalite.write(spark, spark.createDataFrame([(1,)], "k int"), tdir)
    bad = spark.range(3).selectExpr("CAST(IF(id >= 0, raise_error('boom'), id) AS INT) AS k")
    with pytest.raises(Exception, match="boom"):
        deltalite._write_data_files(bad, tdir, change_data=change_data)
    assert _staging_dirs(tdir) == []
    assert [r.k for r in deltalite.read(spark, tdir).collect()] == [1]


def test_vacuum_removes_aged_staging_orphan_keeps_fresh(spark, tdir):
    deltalite.write(spark, spark.createDataFrame([(1,)], "k int"), tdir)
    aged, fresh = "_staging_aged", "_staging_fresh"
    _partial_write(os.path.join(tdir, aged), age_s=3600)
    _partial_write(os.path.join(tdir, fresh))
    removed = deltalite.vacuum(tdir, grace_ms=600_000)
    assert removed == [f"{aged}/_temporary/part-0.parquet"]
    assert _staging_dirs(tdir) == [fresh]
    assert [r.k for r in deltalite.read(spark, tdir).collect()] == [1]


def test_vacuum_keeps_idle_staging_dir_of_live_writer(spark, tdir):
    """A straggler task can stay silent past any grace period; the
    writer's lock, not the directory's age, says the write is over."""
    deltalite.write(spark, spark.createDataFrame([(1,)], "k int"), tdir)
    with deltalite._staging_dir(tdir) as staging:
        _partial_write(staging, age_s=3600)
        assert deltalite.vacuum(tdir, grace_ms=0) == []
        assert os.path.isdir(os.path.join(staging, "_temporary"))
    assert _staging_dirs(tdir) == []  # dir and lock file both gone
    # a killed writer's lock dies with it: the orphan is reclaimed
    name = os.path.basename(staging)
    _partial_write(staging, age_s=3600)
    open(staging + ".lock", "w").close()
    assert deltalite.vacuum(tdir, grace_ms=0) == [f"{name}/_temporary/part-0.parquet"]
    assert _staging_dirs(tdir) == []
