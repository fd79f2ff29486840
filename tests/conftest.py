from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("CREEK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from creek_spark.session import get_spark

    s = get_spark(app_name="creek_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    from tools.parity_cert import duck_views

    con = duck_views(SF_DIR)
    yield con
    con.close()
