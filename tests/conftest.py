from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from etl_sales_pandas_sqlserver_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="etl-sales-spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture
def job_ids(spark):
    """``job_ids(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(fn's result, ids of the jobs it started)``. The ids are
    read after the listener bus drains, so no finished job is missed."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
