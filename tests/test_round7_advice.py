"""Regression tests for the round-6 ADVICE.md items:

1. INSERT OVERWRITE carries the FULL table configuration (not just
   delta.constraints.*), dropping only the column-mapping keys that are
   intentionally reset with the schema.
2. delta.appendOnly is a COMMIT-level rule for MERGE: insert-only merges
   (no dataChange removes, no DV repoints) are legal; only merges that
   match existing rows are rejected.
3. The non-change-feed stream path reads each add through its OWN
   deletionVector (tested with the stream source in
   tests/test_deltalite_stream.py).
4. exact_ntile / distributed_cumsum materialize via localCheckpoint, not
   a session-lifetime persist.
5. read_changes folds the log forward once (_walk_commits) instead of
   replaying O(V) per commit; parent snapshots must match _replay_state.
"""

from __future__ import annotations

import pytest
# lifecycle/backfill end-to-end scenarios (200s measured in the r12 full-sweep duration run): slow tier
# (r11 VERDICT #2) so the driver-visible default `pytest tests/`
# completes in minutes.  Full sweep: pytest tests/ -m ''
pytestmark = pytest.mark.slow

import os
import tempfile

import pytest

from dbt_spark_models_spark.sources import deltalite


@pytest.fixture
def tdir():
    with tempfile.TemporaryDirectory(prefix="dl-r7-") as d:
        yield os.path.join(d, "t")


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- ADVICE 1


def test_overwrite_carries_full_table_configuration(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a")]).coalesce(1), tdir)
    deltalite.set_table_property(tdir, "delta.logRetentionDuration", "interval 30 days")
    deltalite.set_table_property(tdir, "team.owner", "data-eng")
    deltalite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    deltalite.write(spark, _df(spark, [(2, "b")]).coalesce(1), tdir, "overwrite")
    conf = deltalite._replay_state(tdir)["meta"].get("configuration") or {}
    assert conf.get("delta.logRetentionDuration") == "interval 30 days"
    assert conf.get("team.owner") == "data-eng"
    assert conf.get("delta.constraints.k_pos") == "k > 0"
    # and the carried constraint is still ENFORCED on the next batch
    with pytest.raises(ValueError, match="k_pos"):
        deltalite.write(spark, _df(spark, [(-5, "x")]).coalesce(1), tdir, "append")


def test_overwrite_drops_column_mapping_keys_with_schema(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a")]).coalesce(1), tdir)
    deltalite.rename_column(tdir, "v", "val")  # activates columnMapping=name
    conf = deltalite._replay_state(tdir)["meta"].get("configuration") or {}
    assert conf.get("delta.columnMapping.mode") == "name"
    deltalite.set_table_property(tdir, "team.owner", "data-eng")
    deltalite.write(
        spark,
        spark.createDataFrame([(2, "b")], "k int, val string").coalesce(1),
        tdir,
        "overwrite",
    )
    conf = deltalite._replay_state(tdir)["meta"].get("configuration") or {}
    # overwrite installed a FRESH schema with no physicalName metadata:
    # claiming a mapping the schema no longer records would be a lie
    assert "delta.columnMapping.mode" not in conf
    assert conf.get("team.owner") == "data-eng"
    assert {r.val for r in deltalite.read(spark, tdir).collect()} == {"b"}


# ---------------------------------------------------------------- ADVICE 2


def test_append_only_allows_insert_only_merge(spark, tdir):
    # keys 1 and 4 exist; the source keys 2..3 OVERLAP the file's [1,4]
    # stats range, so the candidate set is non-empty and the matched-key
    # probe (not the stats) must decide legality
    deltalite.write(spark, _df(spark, [(1, "a"), (4, "d")]).coalesce(1), tdir)
    deltalite.set_table_property(tdir, "delta.appendOnly", "true")
    deltalite.merge(spark, _df(spark, [(2, "b"), (3, "c")]), tdir, ["k"])
    got = sorted((r.k, r.v) for r in deltalite.read(spark, tdir).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # the insert-only commit must contain no dataChange removes
    last = deltalite.latest_version(tdir)
    removes = [
        a
        for a in deltalite._commit_actions(tdir, last)
        if "remove" in a and a["remove"].get("dataChange", True)
    ]
    assert removes == []


def test_append_only_rejects_matching_merge(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a"), (4, "d")]).coalesce(1), tdir)
    deltalite.set_table_property(tdir, "delta.appendOnly", "true")
    with pytest.raises(ValueError, match="appendOnly"):
        deltalite.merge(spark, _df(spark, [(4, "D2"), (9, "i")]), tdir, ["k"])
    # DV (merge-on-read) tombstoning is a repoint — equally forbidden
    with pytest.raises(ValueError, match="appendOnly"):
        deltalite.merge(
            spark, _df(spark, [(4, "D2")]), tdir, ["k"], deletion_vectors=True
        )
    assert sorted(r.k for r in deltalite.read(spark, tdir).collect()) == [1, 4]


def test_cow_merge_zero_match_skips_rewrite(spark, tdir):
    """Stats-grazed candidates with no matched key: the probe collapses
    the COW merge to insert-only — the commit removes nothing and the
    original file survives byte-identical."""
    deltalite.write(spark, _df(spark, [(1, "a"), (4, "d")]).coalesce(1), tdir)
    before = set(deltalite._replay(tdir)[0])
    deltalite.merge(spark, _df(spark, [(2, "b")]), tdir, ["k"])
    after = set(deltalite._replay(tdir)[0])
    assert before <= after  # nothing rewritten, one file added
    assert len(after - before) >= 1
    got = sorted(r.k for r in deltalite.read(spark, tdir).collect())
    assert got == [1, 2, 4]


# ---------------------------------------------------------------- ADVICE 4


def test_ntile_cumsum_use_checkpoint_not_persist(spark):
    """The range-shuffled intermediates must be localCheckpoint-ed, not
    persist()-ed: checkpoint FREEZES spark_partition_id (recompute after
    cache eviction was the one path where pids could be re-derived
    between the local pass and the offsets pass) and its blocks are
    ContextCleaner-reclaimed when the result goes out of scope, instead
    of living for the session. Correctness stays exact vs the
    single-partition window."""
    import inspect

    from dbt_spark_models_spark.operators import windows
    from dbt_spark_models_spark.operators.windows import distributed_cumsum

    src = inspect.getsource(windows)
    assert ".persist()" not in src
    assert src.count(".localCheckpoint(") >= 2
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.window import Window

    df = spark.range(0, 5_000).selectExpr("id", "CAST(id % 97 AS LONG) AS val")
    got = distributed_cumsum(df, ["val", "id"], "val", "running")
    w = Window.orderBy("val", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("running", F.sum("val").over(w))
    assert got.join(want, ["id", "val", "running"]).count() == 5_000


# ---------------------------------------------------------------- ADVICE 5


def test_walk_commits_parent_state_matches_full_replay(spark, tdir):
    """_walk_commits' folded parent_active must equal an independent
    _replay_state(v-1) at EVERY commit of a mixed DML history."""
    deltalite.write(spark, _df(spark, [(i, f"v{i}") for i in range(6)]), tdir)
    deltalite.delete(spark, tdir, [("k", "=", 1)], deletion_vectors=True)
    deltalite.merge(spark, _df(spark, [(2, "B"), (9, "i")]), tdir, ["k"])
    deltalite.write(spark, _df(spark, [(20, "t")]).coalesce(1), tdir, "append")
    deltalite.optimize(spark, tdir, n_files=1)
    deltalite.restore(spark, tdir, 1)
    last = deltalite.latest_version(tdir)
    seen = []
    for v, actions, parent_active in deltalite._walk_commits(tdir, 0, last):
        expected = (
            deltalite._replay_state(tdir, v - 1)["active"] if v > 0 else {}
        )
        assert parent_active == expected, f"parent state diverged at v{v}"
        seen.append(v)
    assert seen == deltalite._list_versions(tdir)


def test_read_changes_full_history_dv_parity(spark, tdir):
    """Full-history CDF over a DV-heavy log: deletes surface the parent
    snapshot's live rows only (no tombstone resurrection) under the
    single-fold walker."""
    deltalite.write(
        spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), tdir
    )
    deltalite.delete(spark, tdir, [("k", "=", 2)], deletion_vectors=True)
    deltalite.delete(spark, tdir, [("k", "=", 3)], deletion_vectors=True)
    cdf = deltalite.read_changes(spark, tdir).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r._change_type, []).append(r.k)
    assert sorted(by_type["insert"]) == [1, 2, 3]
    # v1 deletes k=2 (parent has 1,2,3); v2 deletes k=3 (parent must NOT
    # resurrect k=2 — it reads v1's DV through the folded parent state)
    assert sorted(by_type["delete"]) == [2, 3]


# ------------------------------------------------------- generated columns


def test_generated_columns_create_append_enforce(spark, tdir):
    """Spec generated-column writer contract: declared at CREATE with the
    expression in field metadata; appends that omit the column get it
    computed, appends that provide it are validated NULL-safe; a derived
    partition key prunes on the log."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 09:30:00")],
        "k int, ts_s string",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    deltalite.write(
        spark,
        df.coalesce(1),
        tdir,
        generated={"day": "CAST(ts AS DATE)"},
        partition_by=["day"],
    )
    got = deltalite.read(spark, tdir)
    assert "day" in got.columns
    assert {str(r.day) for r in got.collect()} == {"2024-01-01", "2024-01-02"}
    # append WITHOUT the generated column: computed from the expression
    more = spark.createDataFrame(
        [(3, "2024-01-02 23:00:00")], "k int, ts_s string"
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    deltalite.write(spark, more.coalesce(1), tdir, "append")
    by_day = {
        r.k: str(r.day) for r in deltalite.read(spark, tdir).collect()
    }
    assert by_day[3] == "2024-01-02"
    # derived partition key prunes on the log
    kept, total = deltalite.scan_file_counts(
        tdir, skip_filters=[("day", "=", "2024-01-01")]
    )
    assert kept < total
    # append WITH a WRONG generated value: refused
    bad = spark.createDataFrame(
        [(4, "2024-01-03 08:00:00", "2029-12-31")],
        "k int, ts_s string, day_s string",
    ).selectExpr(
        "k", "CAST(ts_s AS TIMESTAMP) AS ts", "CAST(day_s AS DATE) AS day"
    )
    with pytest.raises(ValueError, match="generated column"):
        deltalite.write(spark, bad.coalesce(1), tdir, "append")
    # merge source omitting the generated column: computed, not rejected
    src = spark.createDataFrame(
        [(2, "2024-01-05 01:00:00")], "k int, ts_s string"
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    deltalite.merge(spark, src, tdir, ["k"])
    by_day = {
        r.k: str(r.day) for r in deltalite.read(spark, tdir).collect()
    }
    assert by_day[2] == "2024-01-05"
    # redeclaring on append is an error; on overwrite it resets
    with pytest.raises(ValueError, match="declared at CREATE"):
        deltalite.write(
            spark, more, tdir, "append", generated={"day": "CAST(ts AS DATE)"}
        )


def test_rename_drop_guard_generated_and_constraint_references(spark, tdir):
    """Renaming or dropping a column referenced by a generation
    expression (or a CHECK constraint) must refuse up front — otherwise
    the stored expression text dangles and every later write fails with
    an unresolved column. Dropping the generated column ITSELF stays
    legal (it removes the feature, not a dependency)."""
    df = spark.createDataFrame([(1, "ab")], "k int, v string")
    deltalite.write(spark, df.coalesce(1), tdir, generated={"g": "upper(v)"})
    with pytest.raises(ValueError, match="generated column"):
        deltalite.rename_column(tdir, "v", "w")
    with pytest.raises(ValueError, match="generated column"):
        deltalite.drop_column(tdir, "v")
    deltalite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="constraint"):
        deltalite.rename_column(tdir, "k", "kk")
    # unreferenced renames still work; dropping g itself is legal
    deltalite.rename_column(tdir, "g", "gen")
    deltalite.drop_column(tdir, "gen")
    assert set(deltalite.read(spark, tdir).columns) == {"k", "v"}
    # with g gone, v is free to rename again
    deltalite.rename_column(tdir, "v", "w")
    assert set(deltalite.read(spark, tdir).columns) == {"k", "w"}


def test_txn_append_computes_generated_column(spark, tdir):
    df = spark.createDataFrame([(1, "ab")], "k int, v string")
    deltalite.write(spark, df.coalesce(1), tdir, generated={"g": "upper(v)"})
    more = spark.createDataFrame([(2, "cd")], "k int, v string")
    v = deltalite.txn_append(spark, more.coalesce(1), tdir, "app", 1)
    assert v == 1
    got = {r.k: r.g for r in deltalite.read(spark, tdir).collect()}
    assert got == {1: "AB", 2: "CD"}
    # idempotent retry still no-ops
    assert deltalite.txn_append(spark, more, tdir, "app", 1) is None


def test_update_recomputes_generated_column(spark, tdir):
    df = spark.createDataFrame([(1, "ab"), (2, "cd")], "k int, v string")
    deltalite.write(spark, df.coalesce(1), tdir, generated={"g": "upper(v)"})
    with pytest.raises(ValueError, match="generated column"):
        deltalite.update(spark, tdir, [("k", "=", 1)], {"g": "'X'"})
    deltalite.update(spark, tdir, [("k", "=", 1)], {"v": "'zz'"})
    got = {r.k: (r.v, r.g) for r in deltalite.read(spark, tdir).collect()}
    assert got == {1: ("zz", "ZZ"), 2: ("cd", "CD")}


# ---------------------------------------------------------- log retention


def test_cleanup_expired_logs_lifecycle(spark, tdir):
    """Retention cleanup: JSONs at/below a checkpoint and older than the
    window go; every surviving version still replays exactly; reads,
    CDF walks, and stream restarts below the cut raise a clear
    retention-cleaned error; vacuum keeps checkpoint-referenced files."""
    for i in range(13):  # versions 0..12, auto-checkpoint at 10
        deltalite.write(
            spark, _df(spark, [(i, f"v{i}")]).coalesce(1), tdir,
            "append" if i else "overwrite",
        )
    assert deltalite._checkpoint_versions(tdir) == [10]
    removed = deltalite.cleanup_expired_logs(tdir, retain_versions=2)
    assert removed == list(range(11))  # <=10: covered + expired
    # latest and all surviving versions replay exactly
    assert len(deltalite.read(spark, tdir).collect()) == 13
    assert len(deltalite.read(spark, tdir, version=11).collect()) == 12
    # spot read AT the anchor checkpoint version still works
    assert len(deltalite.read(spark, tdir, version=10).collect()) == 11
    # below the cut: clear error, not silent partial state
    with pytest.raises(ValueError, match="retention-cleaned|not in log"):
        deltalite.read(spark, tdir, version=5)
    # CDF walk from the cleaned range refuses; from the survivors works
    with pytest.raises(ValueError, match="retention-cleaned"):
        list(deltalite._walk_commits(tdir, 0, 12))
    walked = [v for v, _, _ in deltalite._walk_commits(tdir, 11, 12)]
    assert walked == [11, 12]
    # vacuum must NOT delete files only referenced through the checkpoint
    assert deltalite.vacuum(tdir) == []
    assert len(deltalite.read(spark, tdir).collect()) == 13
    # appends keep working on the cleaned log
    deltalite.write(spark, _df(spark, [(99, "x")]).coalesce(1), tdir, "append")
    assert len(deltalite.read(spark, tdir).collect()) == 14


def test_cleanup_noop_without_checkpoint_or_window(spark, tdir):
    deltalite.write(spark, _df(spark, [(1, "a")]).coalesce(1), tdir)
    for i in range(2, 5):
        deltalite.write(spark, _df(spark, [(i, "b")]).coalesce(1), tdir, "append")
    # no checkpoint yet (only 4 commits): nothing is coverable
    assert deltalite.cleanup_expired_logs(tdir, retain_versions=1) == []
    assert len(deltalite._list_versions(tdir)) == 4
