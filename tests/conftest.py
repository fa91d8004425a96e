from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from kafka_streams_spark import get_spark

    # shuffle_partitions=8 makes the session's floor_width max(cores, 8):
    # a plan pin must not assume a local list input already meets it.
    spark = get_spark(app_name="kafka_streams_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
