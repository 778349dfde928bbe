"""Operator/query registry.

Each operator module registers named queries with the ``@query`` decorator.
A query is a callable ``(spark, sf_dir) -> DataFrame`` built with the
DataFrame API / Spark SQL; ``oracle`` is the equivalent ANSI SQL for the
DuckDB correctness oracle (None for non-SQL-expressible ops — the driver
then records a weaker rows-only check).

Importing this package imports all operator modules, populating REGISTRY.
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


# Module priority for the front of the registry (never-driver-graded
# queries within these modules are graded first).  Round-5 rotation per
# VERDICT.md r4 #5: the 12 red re-grades first (deltalite_gate ×11 +
# agg_approx_distinct in aggregates), then the families with ZERO driver
# signal (graph=clustering, multimodal, tokenizer, retrieval), then agg
# sketches / train+eval (quality) / streaming / funnels / text — breadth
# of family over count.
# Queries whose IMPLEMENTATION was rewritten by an optimization round
# AFTER their latest driver grade (r11 VERDICT "what's wrong" #4 / next
# round #3): their staleness number under-states their risk — the grade
# on file predates the code that now runs.  They sort ahead of every
# merely-stale graded query so the driver's 50-slot sample re-grades them
# first.  Names drop off this list once a CORRECTNESS_r*.json newer than
# the rewrite grades them green (graded_state recomputes live, so the
# list is only a priority hint — it can never mask a red grade).
_REGRADE_FIRST = {
    # r11 rewrites, last driver-graded pre-rewrite:
    "curation_bradley_terry_strengths",  # graded r7, rewritten r11
    "dedup_minhash_lsh_pairs",  # graded r8, rewritten r11
    "graph_jaccard_link_prediction",  # graded r6, rewritten r11
    "funnel_attribution_models",  # graded r6, rewritten r11
    "eval_corpus_bleu2",  # graded r7, rewritten r11
    "dedup_chunk_substring_overlap",  # graded r9, rewritten r11
    "nested_status_history_traversal",  # graded r10, rewritten r11
    "similarity_kmeans_ivf_train",  # graded r10, rewritten r11
    "sample_negative_pairs",  # graded r6, rewritten r11
    "gold_orders_wide",  # graded r9, rewritten r11
    "retrieval_bm25_topk",  # graded r5, rewritten r11
    "contamination_bloom_probe",  # graded r7, rewritten r11
    "dedup_simhash_fingerprints",  # graded r8, rewritten r11
}

_ROTATION_FRONT = [
    "cdf_incremental_gate",
    "delta_mart_gate",
    "campaign_funnels_gate",
    "gold_replica_gate",
    "preference",
    "deltalite_gate",
    "clustering",
    "multimodal",
    "tokenizer",
    "retrieval",
    "aggregates",
    "quality",
    "streaming_gate",
    "funnels",
    "text",
    "curation",
    "dedup",
    "contamination",
    "arrays",
    "timeseries",
    "skew",
    "reshape",
    "pysource_gate",
    "udtf_gate",
    "grouped_pandas",
]


def load_all() -> dict[str, Query]:
    """Import every operator module (side effect: registry population).

    Registry order IS the driver's grading order: a driver with a fixed
    per-round query budget grades from the front.  After importing every
    module, the registry is reordered so queries that have never received a
    hard driver signal (per ``graded_state.graded_rounds()``, derived live
    from the ``CORRECTNESS_r*.json`` artifacts) come first — prioritized by
    ``_ROTATION_FRONT`` module order.  Already-graded queries follow,
    ordered by STALENESS (oldest grading round first), so a driver whose
    whole registry is green spends its slots re-verifying the rows whose
    code has churned longest since their last grade — regression insurance,
    not arbitrary registration order (VERDICT r7 #2).
    """
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
    from dbt_spark_models_spark.operators.graded_state import graded_rounds

    rounds = graded_rounds()
    mod_rank = {m: i for i, m in enumerate(_ROTATION_FRONT)}

    def sort_key(item: tuple[str, Query]) -> tuple:
        name, q = item
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        graded = name in rounds
        # ungraded first; within ungraded, _ROTATION_FRONT modules in listed
        # order, then the rest.  Within graded, rewritten-since-last-grade
        # names (_REGRADE_FIRST) first, then oldest grading round first
        # (staleness rotation).  Registration order breaks ties (stable sort).
        return (
            graded,
            name not in _REGRADE_FIRST if graded else False,
            rounds.get(name, 0) if graded else mod_rank.get(mod, len(_ROTATION_FRONT)),
        )

    ordered = sorted(REGISTRY.items(), key=sort_key)
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
