from __future__ import annotations

import os

import pytest

from logdag_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    s = get_spark(app_name="logdag_spark_tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"
