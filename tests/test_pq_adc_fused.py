"""The fused similarity_pq_adc_topk must match its DuckDB oracle at
sf0.01, and its plan must keep the fused shape — two MapInArrow scans,
no persisted sub table, no corpus-scale broadcast-join ADC."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="module")
def spark():
    from dbt_spark_models_spark.session import get_spark

    return get_spark("test_pq_adc_fused")


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")


def test_fused_matches_oracle(spark):
    from dbt_spark_models_spark.operators import load_all
    from dbt_spark_models_spark.operators.similarity import similarity_pq_adc_topk
    from tools.selfcheck import check, oracle_connection

    got = similarity_pq_adc_topk(spark, SF_DIR).toPandas()
    spark.catalog.clearCache()
    oracle = load_all()["similarity_pq_adc_topk"].oracle
    with oracle_connection(SF_DIR) as con:
        want = con.sql(oracle).df()
    assert check(got, want) == []
    assert len(got) == 15  # 5 queries x top-3


def test_fused_plan_shape(spark):
    from dbt_spark_models_spark.operators.similarity import similarity_pq_adc_topk

    df = similarity_pq_adc_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    # the candidate side reaching the final window is per-task top-3s from
    # the second Arrow pass — no broadcast-join ADC, no InMemoryRelation
    assert "MapInArrow" in plan
    assert "InMemoryTableScan" not in plan
    assert "BroadcastHashJoin" not in plan
