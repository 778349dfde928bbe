import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dbt_spark_models_spark.session import get_spark

    # fresh warehouse per test session: DROP DATABASE CASCADE can't clean
    # locations left by a previous JVM, so never reuse one
    s = get_spark(
        "tests",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-")},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
