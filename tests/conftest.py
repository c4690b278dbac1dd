import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from squirtle_spark.session import get_spark

    s = get_spark(app_name="squirtle-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
