"""The DeltaLite Structured-Streaming source (sources/deltalite_stream.py):
log-version offsets and checkpoint resume, invisible OPTIMIZE commits,
the append-only refusal, the change-feed mode, deletion vectors read
through on every path, protocol refusal, and retention-cleaned logs."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from dbt_spark_models_spark.sources import deltalite
from dbt_spark_models_spark.sources.deltalite_stream import (
    DeltaLiteStreamReader,
    DeltaLiteStreamSource,
)


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="dlstream-") as d:
        yield os.path.join(d, "t")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _stream(spark, path, ckpt, change_feed=False, rows=None):
    """Drive ``deltalite_stream`` over all available commits via
    foreachBatch, collecting into ``rows`` (k, v) tuples, or
    (_commit_version, _change_type, k, v) in changeFeed mode."""
    try:
        spark.dataSource.register(DeltaLiteStreamSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    reader = spark.readStream.format("deltalite_stream").option("path", path)
    if change_feed:
        reader = reader.option("changeFeed", "true")
    rows = [] if rows is None else rows

    def _sink(df, _bid):
        if change_feed:
            rows.extend(
                (r._commit_version, r._change_type, r.k, r.v)
                for r in df.collect()
            )
        else:
            rows.extend((r.k, r.v) for r in df.collect())

    q = (
        reader.load()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return rows


def _read_all(path, start_v, end_v):
    """Plan (start_v, end_v] and read every partition in-process, the
    way Spark's executors would."""
    reader = DeltaLiteStreamReader({"path": path})
    parts = reader.partitions({"version": start_v}, {"version": end_v})
    return [r for p in parts for r in reader.read(p)]


def _dv_table(spark, path):
    """Four rows in one file, then a DV DELETE of k = 0 (version 1)."""
    deltalite.write(
        spark, _df(spark, [(i, f"v{i}") for i in range(4)]).coalesce(1), path
    )
    deltalite.delete(spark, path, [("k", "=", 0)], deletion_vectors=True)


def _repoint(path):
    """Commit a remove and re-add of the table's one file with its
    tombstone count unchanged, as RESTORE or a zero-match DV DML of an
    earlier writer commits it; changes no row."""
    ((f, add),) = deltalite._replay_state(path)["active"].items()
    tx = deltalite._begin(path)
    return tx.commit("RESTORE", tx.meta, deltalite._removes([f]) + [{"add": add}])


def test_stream_source_resumes_from_checkpoint(spark, tdir):
    """Offsets are log versions persisted in the query checkpoint: a
    restarted query emits ONLY commits made since the last run, an
    OPTIMIZE between runs contributes nothing, and a multi-file commit
    plans one partition per committed file."""
    deltalite.write(spark, _df(spark, [(1, "a"), (2, "b")]).repartition(2), tdir)
    deltalite.write(spark, _df(spark, [(3, "c")]).coalesce(1), tdir, "append")
    n_files = len(deltalite._replay_state(tdir)["active"])
    parts = DeltaLiteStreamReader({"path": tdir}).partitions(
        {"version": -1}, {"version": 1}
    )
    assert len(parts) == n_files
    ckpt = tempfile.mkdtemp(prefix="dlstream-ckpt-")
    assert sorted(_stream(spark, tdir, ckpt)) == [(1, "a"), (2, "b"), (3, "c")]
    # restart after two more commits around an invisible OPTIMIZE
    deltalite.write(spark, _df(spark, [(4, "d")]).coalesce(1), tdir, "append")
    deltalite.optimize(spark, tdir, n_files=1)
    deltalite.write(spark, _df(spark, [(5, "e")]).coalesce(1), tdir, "append")
    # no re-emission, no optimize rows
    assert sorted(_stream(spark, tdir, ckpt)) == [(4, "d"), (5, "e")]


def test_stream_source_rejects_data_rewrite(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a")]).coalesce(1), tdir)
    deltalite.write(spark, _df(spark, [(2, "b")]).coalesce(1), tdir, "overwrite")
    with pytest.raises(ValueError, match="append-style.*changeFeed"):
        _read_all(tdir, -1, 1)
    with pytest.raises(Exception, match="STREAM_FAILED|rewrites"):
        _stream(spark, tdir, tempfile.mkdtemp(prefix="dlstream-ckpt-"))


def test_stream_refuses_retention_cleaned_log(spark, tdir):
    """A fresh query over a log whose head was cleaned must fail loudly,
    not stream only the surviving commits' rows."""
    for i in range(12):
        deltalite.write(
            spark,
            _df(spark, [(i, f"v{i}")]).coalesce(1),
            tdir,
            "append" if i else "overwrite",
        )
    assert deltalite.cleanup_expired_logs(tdir, 1) == list(range(11))
    with pytest.raises(ValueError, match="retention-cleaned"):
        DeltaLiteStreamReader({"path": tdir}).partitions(
            {"version": -1}, {"version": 11}
        )
    rows: list = []
    with pytest.raises(Exception, match="retention-cleaned"):
        _stream(spark, tdir, tempfile.mkdtemp(prefix="dlstream-ckpt-"), rows=rows)
    assert rows == []


def test_partitioned_stream_source_rebuilds_partition_column(spark, tdir):
    deltalite.write(
        spark,
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d2")], "k int, v string, day string"
        ).repartition("day"),
        tdir,
        partition_by=["day"],
    )
    assert sorted(_read_all(tdir, -1, 0)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_stream_cdf_follows_rewrites_and_resumes(spark, tdir):
    """changeFeed mode streams THROUGH merge/delete (the plain source
    raises): updates as pre/post pairs, deletes as deletes; a restart
    from the checkpoint emits only commits since the last run, and a
    fresh query replays the whole history."""
    deltalite.write(spark, _df(spark, [(1, "a"), (2, "b")]).coalesce(1), tdir)
    deltalite.merge(spark, _df(spark, [(2, "B"), (3, "c")]).coalesce(1), tdir, ["k"])
    ckpt = tempfile.mkdtemp(prefix="dlcdf-ckpt-")
    history = [
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (1, "insert", 3, "c"),
        (1, "update_postimage", 2, "B"),
        (1, "update_preimage", 2, "b"),
    ]
    assert sorted(_stream(spark, tdir, ckpt, change_feed=True)) == history
    # restart after a delete and an invisible OPTIMIZE
    deltalite.delete(spark, tdir, [("k", "=", 1)])
    deltalite.optimize(spark, tdir, n_files=1)
    got = _stream(spark, tdir, ckpt, change_feed=True)
    assert sorted(got) == [(2, "delete", 1, "a")]
    fresh = tempfile.mkdtemp(prefix="dlcdf-ckpt-")
    assert sorted(_stream(spark, tdir, fresh, change_feed=True)) == sorted(
        history + got
    )


def test_stream_cdf_follows_deletion_vectors(spark, tdir):
    """The changeFeed stream tails DV commits exactly like COW ones —
    merge-on-read is invisible to CDF consumers: the cdc rows are
    authoritative and the re-pointed adds contribute nothing."""
    deltalite.write(
        spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), tdir
    )
    ckpt = tempfile.mkdtemp(prefix="dlcdfdv-ckpt-")
    assert sorted(_stream(spark, tdir, ckpt, change_feed=True)) == [
        (0, "insert", 1, "a"), (0, "insert", 2, "b"), (0, "insert", 3, "c")
    ]
    deltalite.delete(spark, tdir, [("k", "=", 2)], deletion_vectors=True)
    deltalite.merge(
        spark, _df(spark, [(3, "C"), (4, "d")]).coalesce(1), tdir, ["k"],
        deletion_vectors=True,
    )
    assert sorted(_stream(spark, tdir, ckpt, change_feed=True)) == [
        (1, "delete", 2, "b"),
        (2, "insert", 4, "d"),
        (2, "update_postimage", 3, "C"),
        (2, "update_preimage", 3, "c"),
    ]


def test_stream_cdf_derived_path_honors_deletion_vectors(spark, tdir):
    """The stream shares the batch derived-CDF rule
    (``deltalite._data_changes``): a re-point commit streams nothing and an overwrite of a DV table streams only live rows as
    deletes."""
    _dv_table(spark, tdir)
    ckpt = tempfile.mkdtemp(prefix="dlcdfdv2-ckpt-")
    _stream(spark, tdir, ckpt, change_feed=True)  # consume v0..v1
    _repoint(tdir)
    v3 = deltalite.write(spark, _df(spark, [(7, "w")]).coalesce(1), tdir)
    assert sorted(_stream(spark, tdir, ckpt, change_feed=True)) == [
        (v3, "delete", 1, "v1"),
        (v3, "delete", 2, "v2"),
        (v3, "delete", 3, "v3"),
        (v3, "insert", 7, "w"),
    ]


def test_stream_plans_across_repoint_commit(spark, tdir):
    """A commit that removes a file and re-adds it with an unchanged
    tombstone count (as RESTORE, or a zero-match DV DML of an earlier
    writer, commits it) changes no row: the append-only source plans it
    with no error and no rows, and reads the appends around it."""
    _dv_table(spark, tdir)
    _repoint(tdir)
    deltalite.write(spark, _df(spark, [(9, "z")]).coalesce(1), tdir, "append")
    assert _read_all(tdir, 1, 2) == []
    assert _read_all(tdir, 1, 3) == [(9, "z")]


def test_restore_readd_replaces_parent_payload(spark, tdir):
    """RESTORE re-adds a file whose deletion vector changed with no
    remove action; the re-add still replaces the parent's payload, so
    the derived change feed nets to the resurrected row alone and the
    append-only source refuses the commit instead of re-emitting the
    file's live rows."""
    _dv_table(spark, tdir)
    v = deltalite.restore(spark, tdir, 0)
    net: dict = {}
    for r in deltalite.read_changes(spark, tdir, v, v).collect():
        sign = 1 if r._change_type == "insert" else -1
        net[(r.k, r.v)] = net.get((r.k, r.v), 0) + sign
    assert {k: n for k, n in net.items() if n} == {(0, "v0"): 1}
    with pytest.raises(ValueError, match="rewrites data"):
        _read_all(tdir, 1, v)


def test_stream_shallow_clone_of_dv_table_filters_tombstones(spark, tdir):
    """A shallow clone's v0 commit is adds-carrying-DVs with NO removes,
    so the 'source has removes' guard never fires — each planned
    partition ships its add's own deletionVector path to the executor,
    so the clone streams without resurrecting tombstones."""
    src = os.path.join(os.path.dirname(tdir), "src")
    deltalite.write(
        spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), src
    )
    deltalite.delete(spark, src, [("k", "=", 2)], deletion_vectors=True)
    deltalite.clone(spark, src, tdir)
    rows = _stream(spark, tdir, tempfile.mkdtemp(prefix="dlclone-ckpt-"))
    assert sorted(rows) == [(1, "a"), (3, "c")]


def test_streaming_source_refuses_unknown_reader_feature(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a")]).coalesce(1), tdir)
    log = deltalite._version_file(tdir, 0)
    actions = [json.loads(ln) for ln in open(log) if ln.strip()]
    with open(log, "w") as f:
        for a in actions:
            if "protocol" in a:
                a = {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["rowMagicV9"],
                        "writerFeatures": ["rowMagicV9"],
                    }
                }
            f.write(json.dumps(a) + "\n")
    with pytest.raises(deltalite.DeltaProtocolError):
        _read_all(tdir, -1, 0)
