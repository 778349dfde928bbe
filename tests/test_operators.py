"""Operator smoke + spot-value tests.

The per-query correctness gate is the DuckDB oracle
(tests/test_registry_oracles.py, tools/selfcheck.py); these tests assert
structural invariants and a few known values without duckdb.
"""

from __future__ import annotations

import pytest

# spot values only; every registered query's oracle check is the default
# tier's tests/test_registry_oracles.py.  Full sweep: pytest tests/ -m ''
pytestmark = pytest.mark.slow


def test_pack_subshards_partition_and_budget(spark, sf_dir):
    """k>1 sub-sharded packing: same doc set as k=1, and within every
    (lang, sub_shard) stream each bin except the last stays under budget
    once it has more than one doc (greedy contiguous fill invariant)."""
    from dbt_spark_models_spark.operators.contamination import (
        _PACK_BUDGET,
        pack_token_budget_bins,
    )

    base = pack_token_budget_bins(spark, sf_dir)
    sharded = pack_token_budget_bins(spark, sf_dir, n_subshards=4)
    assert "sub_shard" in sharded.columns and "sub_shard" not in base.columns
    assert (
        sorted(r["doc_id"] for r in base.select("doc_id").collect())
        == sorted(r["doc_id"] for r in sharded.select("doc_id").collect())
    )
    assert sharded.select("sub_shard").distinct().count() > 1
    # within every (lang, sub_shard) stream, bin assignment must equal a
    # doc_id-ordered greedy prefix-sum recompute
    streams: dict = {}
    for r in sharded.collect():
        streams.setdefault((r["lang"], r["sub_shard"]), []).append(r)
    for rows in streams.values():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["bin_id"] == cum // _PACK_BUDGET, r
            assert r["bin_fill"] == cum + r["est_tokens"] - (
                cum // _PACK_BUDGET
            ) * _PACK_BUDGET, r
            cum += r["est_tokens"]


def test_q1_values(spark, sf_dir):
    from dbt_spark_models_spark.operators.relational import q1_pricing_summary

    rows = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in q1_pricing_summary(spark, sf_dir).collect()
    }
    assert len(rows) == 6
    for r in rows.values():
        assert r["count_order"] > 0
        assert r["sum_disc_price"] <= r["sum_base_price"]


def test_sessionization_invariants(spark, sf_dir):
    from dbt_spark_models_spark.operators.windows import window_sessionization

    rows = window_sessionization(spark, sf_dir).collect()
    assert all(r["session_start"] <= r["session_end"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_asof_join_never_future(spark, sf_dir):
    from dbt_spark_models_spark.operators.joins import join_asof

    rows = join_asof(spark, sf_dir).collect()
    for r in rows:
        if r["last_view_ts"] is not None:
            assert r["last_view_ts"] <= r["ts"]


def test_minhash_lsh_jaccard_bounds(spark, sf_dir):
    from dbt_spark_models_spark.operators.dedup import dedup_minhash_lsh

    rows = dedup_minhash_lsh(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_similarity_topk_rank(spark, sf_dir):
    from dbt_spark_models_spark.operators.similarity import (
        similarity_bruteforce_topk,
    )

    rows = similarity_bruteforce_topk(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    for q_id, rs in per_q.items():
        assert sorted(x["rnk"] for x in rs) == list(range(1, len(rs) + 1))
        assert all(-1.0 <= x["cosine"] <= 1.0 for x in rs)


def test_engine_functions_registered(spark):
    row = spark.sql(
        "SELECT millis_to_ts(0) AS a, millis_to_ts_msk(0) AS b"
    ).collect()[0]
    assert str(row["a"]).startswith("1970-01-01 00:00:00")
    assert str(row["b"]).startswith("1970-01-01 03:00:00")


def test_parse_url(spark):
    # PARSE_URL (reference ads_dashboard.sql:139 extracts the gclid query
    # param); testdata has no URL column, so exercise it on literals
    row = spark.sql(
        "SELECT parse_url('https://x.example/pt-br/y?gclid=abc123&z=1', "
        "'QUERY', 'gclid') AS gclid, "
        "parse_url('https://x.example/pt-br/y?gclid=abc123', 'HOST') AS host, "
        "parse_url('https://x.example/pt-br/y?gclid=abc123', 'PATH') AS path"
    ).collect()[0]
    assert row["gclid"] == "abc123"
    assert row["host"] == "x.example"
    assert row["path"] == "/pt-br/y"
