from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("POT_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pot_spark.session import get_spark

    s = get_spark("pot_spark_tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
