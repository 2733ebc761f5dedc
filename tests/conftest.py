from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gomrjob_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="gomrjob_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for ``spark.sql.autoBroadcastJoinThreshold`` (``None``
    selects the session's own value); the session's value is restored
    when the test ends."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    yield lambda value=None: spark.conf.set(key, prev if value is None else value)
    spark.conf.set(key, prev)
