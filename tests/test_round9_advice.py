"""Round-9 ADVICE regressions (judge advisor findings on the DeltaLite
protocol surface, all against the public Delta PROTOCOL.md semantics):

1. clone() must honor the refusal mechanism: a source snapshot whose
   protocol demands an unknown reader feature must be refused, and a
   readable source's protocol must carry over (ratchet) into the clone's
   commit-0 protocol — never a silent downgrade to (1,2).
2. Legacy minWriterVersion=6 implies identityColumns (unimplemented here),
   so writes to foreign writer-6 tables are refused instead of silently
   skipping identity-value generation; merging such a protocol into
   table-features form keeps the identityColumns requirement.
3. delta.enableDeletionVectors=true ratchets the protocol at property-
   ENABLE time (like real Delta), not at the first DV DML.
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
    _implied_features,
    _merge_protocol,
    table_protocol,
)

ROOT = "/tmp/deltalite_r9_advice_tests"


@pytest.fixture(autouse=True, scope="module")
def _clean():
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)
    yield


def _df(spark, n=10, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def _doctor_protocol(spark, name, proto):
    base = os.path.join(ROOT, name)
    deltalite.write(spark, _df(spark).coalesce(1), base, "overwrite")
    log = os.path.join(base, "_delta_log", "0" * 20 + ".json")
    actions = [json.loads(ln) for ln in open(log) if ln.strip()]
    with open(log, "w") as f:
        for a in actions:
            if "protocol" in a:
                a = {"protocol": proto}
            f.write(json.dumps(a) + "\n")
    return base


def test_clone_refuses_unreadable_source(spark):
    src = _doctor_protocol(
        spark,
        "clone_bad_src",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["rowMagicV9"],
            "writerFeatures": ["rowMagicV9"],
        },
    )
    dst = os.path.join(ROOT, "clone_bad_dst")
    with pytest.raises(DeltaProtocolError):
        deltalite.clone(spark, src, dst)
    # refusal must not leave a half-created clone log behind
    assert not deltalite._list_versions(dst)


def test_clone_carries_source_protocol(spark):
    """A readable source at (3,7)+deletionVectors must clone to a table
    whose protocol is at least that — a (1,2) clone would let later
    readers misinterpret the DV'd source files."""
    src = os.path.join(ROOT, "clone_dv_src")
    deltalite.write(spark, _df(spark, 20), src, "overwrite")
    deltalite.set_table_property(src, "delta.enableChangeDataFeed", "true")
    deltalite.delete(
        spark, src, [("k", "<=", 3)], deletion_vectors=True
    )
    sp = table_protocol(src)
    assert (sp["minReaderVersion"], sp["minWriterVersion"]) == (3, 7)

    dst = os.path.join(ROOT, "clone_dv_dst")
    deltalite.clone(spark, src, dst)
    cp = table_protocol(dst)
    assert (cp["minReaderVersion"], cp["minWriterVersion"]) == (3, 7)
    assert "deletionVectors" in (cp.get("readerFeatures") or [])
    # and the clone actually reads the DV-filtered snapshot
    assert deltalite.read(spark, dst).count() == 16


def test_legacy_writer6_refused_for_writes_but_readable(spark):
    path = _doctor_protocol(
        spark, "writer6", {"minReaderVersion": 1, "minWriterVersion": 6}
    )
    # reads are fine: identityColumns is writer-scoped
    assert deltalite.read(spark, path).count() == 10
    with pytest.raises(DeltaProtocolError, match="identityColumns"):
        deltalite.write(spark, _df(spark, 3, 100), path, "append")
    with pytest.raises(DeltaProtocolError):
        deltalite.delete(spark, path, [("k", "<=", 1)])


def test_writer6_merge_keeps_identity_requirement():
    assert "identityColumns" in _implied_features(1, 6)
    assert "identityColumns" not in _implied_features(1, 5)
    merged = _merge_protocol(
        {"minReaderVersion": 1, "minWriterVersion": 6},
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        },
    )
    assert "identityColumns" in merged["writerFeatures"]


def test_dv_property_enable_ratchets_protocol(spark):
    path = os.path.join(ROOT, "dv_prop")
    deltalite.write(spark, _df(spark), path, "overwrite")
    assert table_protocol(path) == {"minReaderVersion": 1, "minWriterVersion": 2}
    deltalite.set_table_property(path, "delta.enableDeletionVectors", "true")
    p = table_protocol(path)
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (3, 7)
    assert "deletionVectors" in p["readerFeatures"]
    assert "deletionVectors" in p["writerFeatures"]
