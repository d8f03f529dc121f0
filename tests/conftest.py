from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xova_spark.session import get_spark  # noqa: E402
from xova_spark.sources.ms_fixture import ms_fixture_dir  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("xova-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ms_dir():
    return ms_fixture_dir()


@pytest.fixture(scope="session")
def ms(spark, ms_dir):
    from xova_spark.sources.ms_fixture import load_ms

    return load_ms(spark, ms_dir)
