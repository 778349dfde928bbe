"""DeltaLite DML parity (sources/deltalite.py ``merge``, ``delete`` and
``update``), default tier: copy-on-write and deletion-vector runs of the
one shared matched-row rewrite on the edge cases it must keep — final
rows, the commit's file actions and the change feed of that commit, by
``_change_type`` — plus MERGE's single evaluation of its source and the
cleanup of a refused merge's written files."""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest

from dbt_spark_models_spark.sources import deltalite

MODES = pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="deltalite-merge-") as d:
        yield d


def _df(spark, rows, ddl="k int, v string"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _table(spark, path, *files):
    """One commit per row list, so each list is exactly one data file;
    returns the file paths in list order."""
    paths: list[str] = []
    for i, rows in enumerate(files):
        deltalite.write(spark, _df(spark, rows), path, "append" if i else "overwrite")
        paths += sorted(set(deltalite._replay_state(path)["active"]) - set(paths))
    return paths


def _merge(spark, path, rows, dv, ddl="k int, v string"):
    """Merge ``rows`` and return (rows after, removed paths, re-added
    paths, count of new paths, change rows of the merge commit)."""
    before = set(deltalite._replay_state(path)["active"])
    v = deltalite.merge(spark, _df(spark, rows, ddl), path, ["k"], deletion_vectors=dv)
    actions = deltalite._commit_actions(path, v)
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    added = {a["add"]["path"] for a in actions if "add" in a}
    changes = Counter(
        (r._change_type, r.k, r.v)
        for r in deltalite.read_changes(spark, path, v, v).collect()
    )
    got = Counter((r.k, r.v) for r in deltalite.read(spark, path).collect())
    return got, removed, added & before, len(added - before), changes


@MODES
def test_updates_and_inserts(spark, tdir, dv):
    low, _high = _table(spark, tdir, [(1, "a"), (2, "b")], [(3, "c"), (4, "d")])
    got, removed, readded, n_new, changes = _merge(
        spark, tdir, [(2, "B"), (5, "e")], dv
    )
    assert got == Counter({(1, "a"): 1, (2, "B"): 1, (3, "c"): 1, (4, "d"): 1, (5, "e"): 1})
    # only the file holding key 2 is touched: rewritten (COW) or
    # re-pointed at a tombstone sidecar (DV); the 3-4 file keeps its bytes
    assert removed == {low}
    assert readded == (removed if dv else set())
    # DV appends the source as one file; COW also writes the rewritten
    # file's survivors together in one file of their own (no key shuffle)
    assert n_new == (1 if dv else 2)
    assert changes == Counter(
        {("update_preimage", 2, "b"): 1, ("update_postimage", 2, "B"): 1, ("insert", 5, "e"): 1}
    )


@MODES
def test_null_keys_never_match(spark, tdir, dv):
    _table(spark, tdir, [(None, "tn"), (1, "a")])
    got, removed, _, _, changes = _merge(spark, tdir, [(None, "sn"), (1, "A")], dv)
    assert got == Counter({(None, "tn"): 1, (None, "sn"): 1, (1, "A"): 1})
    assert len(removed) == 1
    assert changes == Counter(
        {("update_preimage", 1, "a"): 1, ("update_postimage", 1, "A"): 1, ("insert", None, "sn"): 1}
    )


@MODES
def test_all_null_key_source_is_inserted(spark, tdir, dv):
    """A source whose key is NULL on every row matches nothing and is
    inserted whole (it used to be dropped without a word)."""
    _table(spark, tdir, [(None, "tn"), (1, "a")])
    got, removed, readded, n_new, changes = _merge(spark, tdir, [(None, "sn")], dv)
    assert got == Counter({(None, "tn"): 1, (1, "a"): 1, (None, "sn"): 1})
    assert (removed, readded, n_new) == (set(), set(), 1)
    assert changes == Counter({("insert", None, "sn"): 1})


@MODES
def test_duplicate_keys_already_in_target(spark, tdir, dv):
    _table(spark, tdir, [(1, "a"), (1, "a2"), (2, "b")])
    got, removed, _, _, changes = _merge(spark, tdir, [(1, "X")], dv)
    assert got == Counter({(1, "X"): 1, (2, "b"): 1})
    assert len(removed) == 1
    assert changes == Counter(
        {("update_preimage", 1, "a"): 1, ("update_preimage", 1, "a2"): 1, ("update_postimage", 1, "X"): 1}
    )


@MODES
@pytest.mark.parametrize("key", [500, 5], ids=["disjoint", "stats_grazed"])
def test_insert_only_rewrites_nothing(spark, tdir, dv, key):
    _table(spark, tdir, [(0, "a"), (10, "b")])
    got, removed, readded, n_new, changes = _merge(spark, tdir, [(key, "new")], dv)
    assert got == Counter({(0, "a"): 1, (10, "b"): 1, (key, "new"): 1})
    assert (removed, readded, n_new) == (set(), set(), 1)
    assert changes == Counter({("insert", key, "new"): 1})
    assert not any(f.startswith("dv-") for f in os.listdir(tdir))


@MODES
def test_empty_source_commits_nothing(spark, tdir, dv):
    _table(spark, tdir, [(1, "a")])
    got, removed, readded, n_new, changes = _merge(spark, tdir, [], dv)
    assert got == Counter({(1, "a"): 1})
    assert (removed, readded, n_new, changes) == (set(), set(), 0, Counter())


def _assert_refused(path, version):
    """A refused merge committed nothing and left no file behind: every
    ``*.parquet`` under the table directory is one the log references."""
    assert deltalite.latest_version(path) == version
    referenced = {
        a[kind]["path"]
        for v in range(version + 1)
        for a in deltalite._commit_actions(path, v)
        for kind in ("add", "remove", "cdc")
        if kind in a
    }
    on_disk = {
        os.path.relpath(os.path.join(d, f), path).replace(os.sep, "/")
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "_delta_log" not in d
    }
    assert on_disk <= referenced, sorted(on_disk - referenced)


@MODES
def test_duplicate_source_keys_rejected(spark, tdir, dv):
    _table(spark, tdir, [(1, "a")])
    with pytest.raises(ValueError, match="duplicate"):
        _merge(spark, tdir, [(2, "x"), (2, "y")], dv)
    _assert_refused(tdir, 0)


def test_keys_colliding_after_cast_rejected(spark, tdir):
    """The duplicate check runs on the source conformed to the committed
    schema: "1" and "01" are distinct strings but the same int key, so
    the merge refuses instead of inserting key 1 twice."""
    _table(spark, tdir, [(5, "a")])
    with pytest.raises(ValueError, match="duplicate"):
        _merge(spark, tdir, [("1", "x"), ("01", "y")], False, "k string, v string")
    _assert_refused(tdir, 0)


@MODES
def test_check_violation_rejected(spark, tdir, dv):
    _table(spark, tdir, [(1, "a")])
    v = deltalite.add_check_constraint(spark, tdir, "k_small", "k < 100")
    with pytest.raises(ValueError, match="k_small"):
        _merge(spark, tdir, [(1, "A"), (500, "x")], dv)
    _assert_refused(tdir, v)


def test_append_only_match_rejected(spark, tdir):
    _table(spark, tdir, [(1, "a")])
    v = deltalite.set_table_property(tdir, "delta.appendOnly", "true")
    with pytest.raises(ValueError, match="appendOnly"):
        _merge(spark, tdir, [(1, "A")], False)
    _assert_refused(tdir, v)


@MODES
def test_source_evaluated_once(spark, tdir, dv):
    """The source plan runs once: the probes, the tag, the data and the
    change feed all read the rows the merge wrote first."""
    from pyspark.sql import functions as F

    _table(spark, tdir, [(1, "a"), (2, "b")])
    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v

    src = _df(spark, [(2, "B"), (5, "e")]).withColumn(
        "v", F.udf(counted, "string")("v")
    )
    v = deltalite.merge(spark, src, tdir, ["k"], deletion_vectors=dv)
    assert calls.value == 2
    assert {r.k: r.v for r in deltalite.read(spark, tdir).collect()} == {
        1: "a", 2: "B", 5: "e"
    }
    assert Counter(
        r._change_type for r in deltalite.read_changes(spark, tdir, v, v).collect()
    ) == Counter({"update_preimage": 1, "update_postimage": 1, "insert": 1})


@MODES
def test_nondeterministic_source_data_matches_change_feed(spark, tdir, dv):
    """The committed rows and the change feed come from the same
    evaluation of the source, so a current_timestamp() column agrees."""
    from pyspark.sql import functions as F

    ddl = "k int, v string, ts timestamp"
    deltalite.write(spark, spark.createDataFrame([(1, "a", None)], ddl), tdir)
    src = _df(spark, [(1, "A"), (2, "b")]).withColumn("ts", F.current_timestamp())
    v = deltalite.merge(spark, src, tdir, ["k"], deletion_vectors=dv)
    data = {r.k: r.ts for r in deltalite.read(spark, tdir).collect()}
    post = {
        r.k: r.ts
        for r in deltalite.read_changes(spark, tdir, v, v).collect()
        if r._change_type in ("insert", "update_postimage")
    }
    assert post == data
    assert None not in post.values()


def _dml(spark, path, verb, *args, dv):
    """Run ``deltalite.<verb>`` and return (its (version, untouched,
    touched), rows after, removed paths, re-added paths, count of new
    paths, change rows of its commit)."""
    before = set(deltalite._replay_state(path)["active"])
    out = getattr(deltalite, verb)(spark, path, *args, deletion_vectors=dv)
    actions = deltalite._commit_actions(path, out[0])
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    added = {a["add"]["path"] for a in actions if "add" in a}
    changes = Counter(
        (r._change_type, r.k, r.v)
        for r in deltalite.read_changes(spark, path, out[0], out[0]).collect()
    )
    got = Counter((r.k, r.v) for r in deltalite.read(spark, path).collect())
    return out, got, removed, added & before, len(added - before), changes


@MODES
def test_delete_parity(spark, tdir, dv):
    low, _high = _table(spark, tdir, [(1, "a"), (2, "b")], [(3, "c"), (4, "d")])
    out, got, removed, readded, n_new, changes = _dml(
        spark, tdir, "delete", [("k", "=", 2)], dv=dv
    )
    assert out == (2, 1, 1)
    assert got == Counter({(1, "a"): 1, (3, "c"): 1, (4, "d"): 1})
    # COW rewrites the low file's survivor; DV re-points the low file
    assert removed == {low}
    assert readded == (removed if dv else set())
    assert n_new == (0 if dv else 1)
    assert changes == Counter({("delete", 2, "b"): 1})


@MODES
def test_update_parity(spark, tdir, dv):
    low, _high = _table(spark, tdir, [(1, "a"), (2, "b")], [(3, "c"), (4, "d")])
    out, got, removed, readded, n_new, changes = _dml(
        spark, tdir, "update", [("k", "=", 2)], {"v": "upper(v)"}, dv=dv
    )
    assert out == (2, 1, 1)
    assert got == Counter({(1, "a"): 1, (2, "B"): 1, (3, "c"): 1, (4, "d"): 1})
    assert removed == {low}
    assert readded == (removed if dv else set())
    # DV appends the post-image alone; COW writes the survivor and the
    # post-image, each from its own branch of the rewrite's union
    assert n_new == (1 if dv else 2)
    assert changes == Counter(
        {("update_preimage", 2, "b"): 1, ("update_postimage", 2, "B"): 1}
    )


@MODES
@pytest.mark.parametrize("verb", ["delete", "update"])
def test_zero_match_commits_nothing(spark, tdir, dv, verb):
    """The predicate grazes the file's [0, 10] stats but matches no live
    row — k = 5 was deleted by the previous commit (a tombstone, in DV
    mode): no commit, no file written, no tombstone sidecar left
    behind, and the file keeps its add."""
    _table(spark, tdir, [(0, "a"), (5, "x"), (10, "b")])
    deltalite.delete(spark, tdir, [("k", "=", 5)], deletion_vectors=dv)
    files = set(os.listdir(tdir))
    active = deltalite._replay_state(tdir)["active"]
    args = ([("k", "=", 5)],) + (({"v": "upper(v)"},) if verb == "update" else ())
    out = getattr(deltalite, verb)(spark, tdir, *args, deletion_vectors=dv)
    assert out == (1, 1, 0)
    assert deltalite.latest_version(tdir) == 1
    assert set(os.listdir(tdir)) == files
    assert deltalite._replay_state(tdir)["active"] == active
    got = Counter((r.k, r.v) for r in deltalite.read(spark, tdir).collect())
    assert got == Counter({(0, "a"): 1, (10, "b"): 1})


def test_dv_delete_keeps_sidecar_of_grazed_file(spark, tdir):
    """A DV DELETE that tombstones a row in one file and only grazes an
    already-tombstoned other file re-points the first alone; the grazed
    file keeps its older sidecar, which vacuum must keep too."""
    wide, narrow = _table(
        spark, tdir, [(0, "a"), (5, "x"), (10, "b")], [(4, "c"), (6, "d")]
    )
    deltalite.delete(spark, tdir, [("k", "=", 5)], deletion_vectors=True)
    old_dv = deltalite._replay_state(tdir)["active"][wide]["deletionVector"]
    out, got, removed, readded, n_new, changes = _dml(
        spark, tdir, "delete", [("k", "=", 6)], dv=True
    )
    assert out == (3, 1, 1)
    assert removed == readded == {narrow}
    assert deltalite._replay_state(tdir)["active"][wide]["deletionVector"] == old_dv
    assert changes == Counter({("delete", 6, "d"): 1})
    deltalite.vacuum(tdir, retain_versions=0, grace_ms=0)
    assert os.path.exists(os.path.join(tdir, old_dv["path"]))
    got = Counter((r.k, r.v) for r in deltalite.read(spark, tdir).collect())
    assert got == Counter({(0, "a"): 1, (10, "b"): 1, (4, "c"): 1})


@MODES
def test_delete_keeps_null_predicate_row(spark, tdir, dv):
    (only,) = _table(spark, tdir, [(None, "n"), (1, "a")])
    out, got, removed, readded, n_new, changes = _dml(
        spark, tdir, "delete", [("k", "<=", 5)], dv=dv
    )
    assert out == (1, 0, 1)
    assert got == Counter({(None, "n"): 1})  # NULL k does not match → kept
    assert removed == {only}
    assert readded == (removed if dv else set())
    assert n_new == (0 if dv else 1)
    assert changes == Counter({("delete", 1, "a"): 1})


@MODES
def test_delete_leaves_stats_grazed_file_untouched(spark, tdir, dv):
    """k = 4 overlaps both files' stats ([0, 10] and [4, 6]) but only the
    second holds a matching row: only that file is rewritten (COW) or
    re-pointed (DV); the first keeps its committed path."""
    wide, narrow = _table(spark, tdir, [(0, "a"), (10, "b")], [(4, "c"), (6, "d")])
    out, got, removed, readded, n_new, changes = _dml(
        spark, tdir, "delete", [("k", "=", 4)], dv=dv
    )
    assert out == (2, 1, 1)
    assert got == Counter({(0, "a"): 1, (10, "b"): 1, (6, "d"): 1})
    assert removed == {narrow}
    assert wide in deltalite._replay_state(tdir)["active"]
    assert readded == (removed if dv else set())
    assert n_new == (0 if dv else 1)
    assert changes == Counter({("delete", 4, "c"): 1})
