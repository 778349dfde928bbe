"""Operator/query registry.

Each operator module registers named queries with the ``@query`` decorator.
A query is a callable ``(spark, sf_dir) -> DataFrame`` built with the
DataFrame API / Spark SQL; ``oracle`` is the equivalent ANSI SQL for the
DuckDB correctness oracle (None for non-SQL-expressible ops — the driver
then records a weaker rows-only check).

``load_all()`` imports every operator module, populating REGISTRY in
registration order; ``tests/test_registry_oracles.py`` checks every
registered query against its oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def run_scope(*parts: str) -> str:
    """Per-process scope hash for gate database names and /tmp workspace
    locations. Gates used to derive these from sf_dir alone, so two
    concurrent PROCESSES (parallel pytest shards; a driver grading while
    a local run iterates) computed the SAME physical location and
    clobbered each other mid-scan — the r8 FileScanRDD failure (VERDICT
    r8 #2). Mixing the pid in makes every process's gate workspace
    disjoint; within one process the cache semantics are unchanged."""
    import hashlib
    import os

    key = "|".join(parts) + f"|{os.getpid()}"
    return hashlib.md5(key.encode()).hexdigest()[:10]


GATE_ROOT = "/tmp/spark_models_engine"

# (session id, db) -> what a gate's build returned; recorded only once the
# build has returned
_FINISHED: dict[tuple[int, str], Any] = {}


def gate_db(
    spark: SparkSession,
    prefix: str,
    sf_dir: str,
    *scope: str,
    probe: str,
    build: Callable[[str], Any],
) -> tuple[str, Any]:
    """``(db, build(db))`` for a gate database holding a finished build,
    built at most once per session.

    ``db`` is ``prefix + run_scope(sf_dir, *scope)``, located at
    ``GATE_ROOT/<db>``. A later call reuses it only while its build is
    recorded as finished AND ``probe`` still exists (a table in ``db``, or
    the DeltaLite model of that name). Otherwise the db is dropped, its
    location cleared (the in-memory catalog cannot CASCADE tables a
    previous session created there) and recreated, and ``build(db)`` runs.
    A build that raises is never recorded, so a half-built db whose probe
    already exists is rebuilt, not served."""
    import shutil

    from dbt_spark_models_spark.plans import deltalite_tables as dlt

    db = prefix + run_scope(sf_dir, *scope)
    key = (id(spark), db)
    if key in _FINISHED and (
        spark.catalog.tableExists(f"{db}.{probe}")
        or spark.catalog.tableExists(dlt.view_name(db, probe))
    ):
        return db, _FINISHED[key]
    _FINISHED.pop(key, None)
    location = f"{GATE_ROOT}/{db}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(location, ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{location}'")
    _FINISHED[key] = build(db)
    return db, _FINISHED[key]


def require_success(results: list, step: str) -> list:
    """``results`` (a list of ``RunResult``) unchanged, or a RuntimeError
    naming ``step`` and every result whose status is not success."""
    bad = [r for r in results if r.status != "success"]
    if bad:
        raise RuntimeError(f"{step} failed: {bad}")
    return results


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator module (side effect: registry population)
    and return ``REGISTRY``, in registration order."""
    from dbt_spark_models_spark.operators import (  # noqa: F401
        relational,
        relational2,
        relational3,
        joins,
        formats,
        windows,
        scalars,
        nested,
        funnels,
        similarity,
        streaming_gate,
        multimodal,
        reshape,
        grouped_pandas,
        tokenizer,
        skew,
        pysource_gate,
        udtf_gate,
        quality,
        text,
        aggregates,
        arrays,
        clustering,
        contamination,
        curation,
        dedup,
        engine_gate,
        deltalite_gate,
        delta_mart_gate,
        cdf_incremental_gate,
        gold_replica_gate,
        campaign_funnels_gate,
        retrieval,
        timeseries,
        preference,
    )
    return REGISTRY
