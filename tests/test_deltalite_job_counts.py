"""Spark jobs launched by DeltaLite's fixed per-commit work
(sources/deltalite.py, plans/materialize.py), counted per job group with
``sc.statusTracker()``: snapshot reads and schema alignment come from
the log alone, and a copy-on-write MERGE, DELETE or UPDATE with its
change feed stays within its job budget."""

from __future__ import annotations

import sys
import tempfile
import threading

import pytest

from dbt_spark_models_spark.plans import materialize
from dbt_spark_models_spark.sources import deltalite

# jobs of one copy-on-write merge with the change feed on a two-file
# table and a parquet source, under adaptive execution: source write 1
# (the only job that runs the source plan), fused probe of the written
# files 3, matched-file probe 2 (source-key broadcast, observed scan),
# survivors write 2 (source-key broadcast, write), CDC write 3
# (source-key broadcast, key window, write); probing and writing the
# source plan itself took 10, a separate duplicate check and key-range
# probe plus a three-join change feed 13
MERGE_JOB_BUDGET = 11
# jobs of one copy-on-write DELETE / UPDATE with the change feed on a
# two-file table, matching rows in one file: matched-file probe 1, data
# write 1, CDC write 1
DELETE_JOB_BUDGET = 3
UPDATE_JOB_BUDGET = 3


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="deltalite-jobs-") as d:
        yield d


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_read_of_40_partition_files_launches_no_job(spark, tdir):
    df = spark.range(400).selectExpr("CAST(id AS INT) AS k", "CAST(id % 40 AS INT) AS p")
    deltalite.write(spark, df.repartition(40, "p"), tdir, partition_by=["p"])
    assert len(deltalite._replay_state(tdir)["active"]) == 40
    threshold = spark.conf.get(deltalite._LISTING_THRESHOLD, None)
    jobs, snap = _jobs(spark, "dl-read-40", lambda: deltalite.read(spark, tdir))
    assert jobs == 0, "explicit-file read launched a listing job"
    # the raised listing threshold does not outlive the read
    assert spark.conf.get(deltalite._LISTING_THRESHOLD, None) == threshold
    assert snap.count() == 400


def test_concurrent_reads_restore_listing_threshold(spark, tdir):
    """Reads racing on the scoped threshold must not leave the raised
    value behind: a lost restore would disable parallel listing for every
    later directory scan of the session."""
    df = spark.range(80).selectExpr("CAST(id AS INT) AS k", "CAST(id % 40 AS INT) AS p")
    deltalite.write(spark, df.repartition(40, "p"), tdir, partition_by=["p"])
    threshold = spark.conf.get(deltalite._LISTING_THRESHOLD, None)
    errors: list[Exception] = []

    def reader():
        try:
            for _ in range(3):
                deltalite.read(spark, tdir)
        except Exception as exc:  # noqa: BLE001 — reported by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert spark.conf.get(deltalite._LISTING_THRESHOLD, None) == threshold


def test_align_columns_builds_no_scan(spark, tdir, monkeypatch):
    deltalite.write(spark, spark.createDataFrame([(1, "a")], "k int, v string"), tdir)

    def no_scan(*_a, **_k):
        raise AssertionError("schema alignment built a snapshot scan")

    monkeypatch.setattr(deltalite, "_scan_active", no_scan)
    batch = spark.createDataFrame([(2.0, 7)], "k double, extra int")
    jobs, out = _jobs(
        spark,
        "dl-align",
        lambda: materialize._align_columns_deltalite(batch, tdir, "append_new_columns"),
    )
    assert jobs == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("k", "int"),
        ("v", "string"),
        ("extra", "int"),
    ]


def test_cow_merge_with_change_feed_job_budget(spark, tdir, tmp_path):
    rows = spark.createDataFrame
    deltalite.write(spark, rows([(1, "a"), (2, "b")], "k int, v string").coalesce(1), tdir)
    deltalite.write(
        spark, rows([(3, "c"), (4, "d")], "k int, v string").coalesce(1), tdir, "append"
    )
    # a scanned source, not a local relation the optimizer folds away
    rows([(2, "B"), (5, "e")], "k int, v string").coalesce(1).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    jobs, v = _jobs(spark, "dl-merge", lambda: deltalite.merge(spark, src, tdir, ["k"]))
    assert jobs <= MERGE_JOB_BUDGET, f"merge launched {jobs} jobs"
    assert {r.k: r.v for r in deltalite.read(spark, tdir).collect()} == {
        1: "a", 2: "B", 3: "c", 4: "d", 5: "e"
    }
    assert sum(1 for a in deltalite._commit_actions(tdir, v) if "cdc" in a) >= 1


def _two_file_table(spark, tdir):
    rows = spark.createDataFrame
    deltalite.write(spark, rows([(1, "a"), (2, "b")], "k int, v string").coalesce(1), tdir)
    deltalite.write(
        spark, rows([(3, "c"), (4, "d")], "k int, v string").coalesce(1), tdir, "append"
    )


def test_cow_delete_with_change_feed_job_budget(spark, tdir):
    _two_file_table(spark, tdir)
    jobs, (v, _, _) = _jobs(
        spark, "dl-delete", lambda: deltalite.delete(spark, tdir, [("k", "=", 2)])
    )
    assert jobs <= DELETE_JOB_BUDGET, f"delete launched {jobs} jobs"
    assert sorted(r.k for r in deltalite.read(spark, tdir).collect()) == [1, 3, 4]
    assert sum(1 for a in deltalite._commit_actions(tdir, v) if "cdc" in a) >= 1


def test_cow_update_with_change_feed_job_budget(spark, tdir):
    _two_file_table(spark, tdir)
    jobs, (v, _, _) = _jobs(
        spark,
        "dl-update",
        lambda: deltalite.update(spark, tdir, [("k", "=", 2)], {"v": "upper(v)"}),
    )
    assert jobs <= UPDATE_JOB_BUDGET, f"update launched {jobs} jobs"
    assert {r.k: r.v for r in deltalite.read(spark, tdir).collect()} == {
        1: "a", 2: "B", 3: "c", 4: "d"
    }
    assert sum(1 for a in deltalite._commit_actions(tdir, v) if "cdc" in a) >= 1


def test_delta_probe_runs_once_per_jvm(spark, monkeypatch):
    """The classpath cannot change while the JVM runs, so a second
    ``_delta_available`` for the same session makes no Py4J call."""
    first = materialize._delta_available(spark)
    client = spark.sparkContext._gateway._gateway_client
    sent: list[str] = []
    send = client.send_command

    def counting(command, *a, **k):
        sent.append(command)
        return send(command, *a, **k)

    monkeypatch.setattr(client, "send_command", counting)
    assert materialize._delta_available(spark) is first
    assert sent == []
