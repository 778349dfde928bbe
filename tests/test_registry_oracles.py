"""Every registered query against its DuckDB oracle, default tier.

Each ``__spark_entry__.queries()`` entry (the driver-contract path, with
``ensure_session_confs`` applied) runs on the session ``spark`` at
``sf_dir``, and its ``oracle_sql()`` runs on one DuckDB connection over
the same parquet. The two results go through ``tools/selfcheck.check``,
the compare the standalone ``python tools/selfcheck.py`` uses."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from tools.selfcheck import check, oracle_connection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


def test_graded_queries_still_registered():
    """No query the last recorded correctness run graded was dropped."""
    with open(os.path.join(REPO, "CORRECTNESS_r12.json")) as f:
        graded = json.load(f)
    assert sorted(set(graded) - set(QUERIES)) == []


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    assert name in ORACLES, f"{name} has no oracle"
    df = QUERIES[name](spark, sf_dir)
    # a non-empty schema without duplicate names (the by-name compare
    # cannot tell two columns of one name apart)
    assert len(df.columns) > 0
    assert len(df.columns) == len(set(df.columns)), df.columns
    problems = check(df.toPandas(), duck.sql(ORACLES[name]).df())
    assert problems == [], "; ".join(problems)
