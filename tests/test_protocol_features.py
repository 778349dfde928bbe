"""DeltaLite protocol negotiation / table-features handshake (VERDICT r7
#4; public Delta PROTOCOL.md "Protocol Evolution" + "Table Features").

The safety contract under test: every commit writes the NEGOTIATED
protocol (required-by-metadata ratcheted against the current one, never a
downgrade), checkpoints persist it, and a snapshot demanding an unknown
version or feature is refused loudly on the correct side (reader vs
writer) instead of being replayed wrong.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dbt_spark_models_spark.sources import deltalite
from dbt_spark_models_spark.sources.deltalite import (
    DeltaProtocolError,
    _merge_protocol,
    _protocol_action,
    table_protocol,
)

ROOT = "/tmp/deltalite_proto_tests"


@pytest.fixture(autouse=True, scope="module")
def _clean():
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)
    yield


def _df(spark, n=20, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("int").alias("bucket"),
        (F.col("id") * 1.5).alias("v"),
    )


def _proto_at(path, version):
    return deltalite._replay_state(path, version).get("protocol")


def test_upgrade_in_history_is_monotonic(spark):
    """create → constraint → CDF → rename (column mapping) → DV delete:
    versions ratchet at each stage and never decrease at ANY replay
    prefix; the final table-features protocol lists the legacy-implied
    features (spec upgrade rule)."""
    path = os.path.join(ROOT, "lifecycle")
    deltalite.write(spark, _df(spark), path, "overwrite")
    assert table_protocol(path) == {"minReaderVersion": 1, "minWriterVersion": 2}

    deltalite.add_check_constraint(spark, path, "k_nonneg", "k >= 0")
    assert table_protocol(path)["minWriterVersion"] == 3

    deltalite.set_table_property(path, "delta.enableChangeDataFeed", "true")
    assert table_protocol(path)["minWriterVersion"] == 4

    deltalite.rename_column(path, "v", "val")
    p = table_protocol(path)
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (2, 5)

    deltalite.delete(
        spark, path, [("k", "<=", 3)], deletion_vectors=True
    )
    p = table_protocol(path)
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (3, 7)
    assert p["readerFeatures"] == ["columnMapping", "deletionVectors"]
    assert set(p["writerFeatures"]) >= {
        "appendOnly",
        "changeDataFeed",
        "checkConstraints",
        "columnMapping",
        "deletionVectors",
        "generatedColumns",
        "invariants",
    }

    # monotonic at every prefix
    last = (0, 0)
    for v in deltalite._list_versions(path):
        proto = _proto_at(path, v) or {"minReaderVersion": 1, "minWriterVersion": 1}
        cur = (proto["minReaderVersion"], proto["minWriterVersion"])
        assert cur >= last, f"protocol downgraded at version {v}"
        last = cur

    # a later plain append must NOT downgrade (sticky merge)
    deltalite.write(
        spark, _df(spark, 5, 100).withColumnRenamed("v", "val"), path, "append"
    )
    p2 = table_protocol(path)
    assert (p2["minReaderVersion"], p2["minWriterVersion"]) == (3, 7)
    assert p2["readerFeatures"] == p["readerFeatures"]


def test_checkpoint_preserves_protocol(spark):
    """A checkpoint-anchored replay must see the same negotiated protocol
    as a full-log replay — the checkpoint persists the protocol action."""
    path = os.path.join(ROOT, "ckpt")
    deltalite.write(spark, _df(spark), path, "overwrite")
    deltalite.set_table_property(path, "delta.enableChangeDataFeed", "true")
    deltalite.delete(
        spark, path, [("k", "<=", 2)], deletion_vectors=True
    )
    before = table_protocol(path)
    # push past CHECKPOINT_INTERVAL so replay bootstraps from a checkpoint
    for i in range(deltalite.CHECKPOINT_INTERVAL + 1):
        deltalite.write(spark, _df(spark, 2, 1000 + 10 * i), path, "append")
    ckpts = deltalite._checkpoint_versions(path)
    assert ckpts, "no checkpoint written"
    after = table_protocol(path)
    assert after["minReaderVersion"] == before["minReaderVersion"] == 3
    assert after["minWriterVersion"] == 7
    assert "deletionVectors" in after["readerFeatures"]


def _doctor(spark, name, proto):
    """1-commit table whose protocol is hand-replaced."""
    base = os.path.join(ROOT, name)
    deltalite.write(spark, _df(spark, 10).coalesce(1), base, "overwrite")
    log = os.path.join(base, "_delta_log", "0" * 20 + ".json")
    actions = [json.loads(ln) for ln in open(log) if ln.strip()]
    with open(log, "w") as f:
        for a in actions:
            if "protocol" in a:
                a = {"protocol": proto}
            f.write(json.dumps(a) + "\n")
    return base


def test_unknown_reader_feature_refused_everywhere(spark):
    path = _doctor(
        spark,
        "unknown_reader",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["rowMagicV9"],
            "writerFeatures": ["rowMagicV9"],
        },
    )
    with pytest.raises(DeltaProtocolError):
        deltalite.read(spark, path)
    with pytest.raises(DeltaProtocolError):
        deltalite.read_changes(spark, path)
    # writers must refuse too (a writer is also a reader)
    with pytest.raises(DeltaProtocolError):
        deltalite.write(spark, _df(spark, 3), path, "append")
    with pytest.raises(DeltaProtocolError):
        deltalite.delete(spark, path, [("k", "<=", 1)])


def test_unknown_writer_feature_reads_but_refuses_writes(spark):
    path = _doctor(
        spark,
        "unknown_writer",
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["writeMagicV9"],
        },
    )
    assert deltalite.read(spark, path).count() == 10
    for op in (
        lambda: deltalite.write(spark, _df(spark, 3), path, "append"),
        lambda: deltalite.delete(spark, path, [("k", "<=", 1)]),
        lambda: deltalite.set_table_property(path, "foo", "bar"),
        lambda: deltalite.update(spark, path, [("k", "<=", 1)], {"v": "v + 1"}),
        lambda: deltalite.optimize(spark, path),
        lambda: deltalite.vacuum(path),
    ):
        with pytest.raises(DeltaProtocolError):
            op()


def test_unsupported_reader_version_refused(spark):
    path = _doctor(
        spark, "reader_v99", {"minReaderVersion": 99, "minWriterVersion": 99}
    )
    with pytest.raises(DeltaProtocolError):
        deltalite.read(spark, path)


def test_merge_protocol_unit():
    # no downgrade
    hi = {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"], "writerFeatures": ["deletionVectors"]}
    lo = {"minReaderVersion": 1, "minWriterVersion": 2}
    m = _merge_protocol(hi, lo)
    assert (m["minReaderVersion"], m["minWriterVersion"]) == (3, 7)
    # legacy side contributes its implied features on upgrade
    m2 = _merge_protocol({"minReaderVersion": 2, "minWriterVersion": 5}, hi)
    assert "columnMapping" in m2["writerFeatures"]
    assert "columnMapping" in m2["readerFeatures"]
    assert "deletionVectors" in m2["readerFeatures"]
    # required-by-metadata computation: CDF config alone → writer 4
    meta = {"configuration": {"delta.enableChangeDataFeed": "true"}}
    act = _protocol_action(meta)["protocol"]
    assert act == {"minReaderVersion": 1, "minWriterVersion": 4}


# --- randomized protocol invariants -----------------------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _pop = st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2)),
        st.tuples(st.just("overwrite"), st.integers(0, 2)),
        st.tuples(st.just("constraint"), st.none()),
        st.tuples(st.just("cdf"), st.none()),
        st.tuples(st.just("appendonly"), st.booleans()),
        st.tuples(st.just("dvdelete"), st.integers(0, 19)),
        st.tuples(st.just("delete"), st.integers(0, 19)),
        st.tuples(st.just("optimize"), st.none()),
        st.tuples(st.just("rename"), st.none()),
        st.tuples(st.just("prop"), st.none()),
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(_pop, min_size=1, max_size=5))
    def test_protocol_monotone_under_random_ops(spark, ops):
        """Any legal op sequence: (a) the protocol at every historical
        version is monotonically non-decreasing, (b) the final protocol
        understands every feature the final metadata enables, (c) the
        table stays readable by this implementation."""
        import tempfile

        from pyspark.sql import functions as F

        with tempfile.TemporaryDirectory(prefix="dlproto-") as tdir:
            path = os.path.join(tdir, "t")
            renamed = False
            appendonly = False

            def batch(seed, n=4):
                return spark.range(seed * 100, seed * 100 + n).select(
                    F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
                )

            deltalite.write(spark, batch(0), path, "overwrite")
            for op, arg in ops:
                try:
                    if op == "append":
                        deltalite.write(spark, batch(arg + 1), path, "append")
                    elif op == "overwrite":
                        deltalite.write(spark, batch(arg + 1), path, "overwrite")
                        renamed = False  # schema reset drops the mapping? (mapping keys dropped, mode reset)
                    elif op == "constraint":
                        deltalite.add_check_constraint(
                            spark, path, f"c{len(deltalite._list_versions(path))}", "k >= -1"
                        )
                    elif op == "cdf":
                        deltalite.set_table_property(
                            path, "delta.enableChangeDataFeed", "true"
                        )
                    elif op == "appendonly":
                        deltalite.set_table_property(
                            path, "delta.appendOnly", "true" if arg else "false"
                        )
                        appendonly = arg
                    elif op == "dvdelete":
                        deltalite.set_table_property(
                            path, "delta.enableChangeDataFeed", "true"
                        )
                        deltalite.delete(
                            spark, path, [("k", "<=", arg)],
                            deletion_vectors=True,
                        )
                    elif op == "delete":
                        deltalite.delete(spark, path, [("k", "<=", arg)])
                    elif op == "optimize":
                        deltalite.optimize(spark, path)
                    elif op == "rename":
                        col = "val" if not renamed else "v"
                        try:
                            deltalite.rename_column(path, "v" if not renamed else "val", col)
                            renamed = not renamed
                        except ValueError:
                            pass  # column name state drifted; irrelevant here
                    elif op == "prop":
                        deltalite.set_table_property(path, "user.note", "x")
                except ValueError:
                    # legality refusals (appendOnly vs delete etc.) are
                    # fine — the invariant under test is protocol shape
                    continue

            last = (0, 0)
            for v in deltalite._list_versions(path):
                proto = deltalite._replay_state(path, v).get("protocol") or {
                    "minReaderVersion": 1,
                    "minWriterVersion": 1,
                }
                cur = (proto["minReaderVersion"], proto["minWriterVersion"])
                assert cur >= last, f"downgrade at v{v}: {last} -> {cur}"
                last = cur
            final_state = deltalite._replay_state(path)
            final = final_state.get("protocol")
            deltalite._assert_writable(final, path)
            needed = deltalite._features_from_meta(final_state["meta"])
            if final and final.get("minWriterVersion", 0) >= 7:
                assert needed <= set(final.get("writerFeatures") or [])
            deltalite.read(spark, path).count()
